package graft.kmeans

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, Decimal, DecimalType, DoubleType, FloatType}

import graft.functions.VectorFunctions._

/** Davies–Bouldin Index — the reference's evaluation query
  * (`calculateDBI`, Main.java:71-111):
  *
  *   DBI = (1/k) Σᵢ maxⱼ≠ᵢ (σᵢ + σⱼ) / d(cᵢ, cⱼ)
  *
  * The reference computes it single-threaded over the whole dataset held
  * in driver memory (O(n·k) driver work). Here the O(n) part — per-cluster
  * scatter σᵢ = mean point→centroid distance (A5) — is one `mapPartitions`
  * fold over the labelled rows, the same shape as `KMeans.fit`'s rounds:
  * one job, one task per partition of the caller's DataFrame, no
  * exchange; only the k partials and the O(k²) arithmetic reach the
  * driver.
  *
  * The distance sum is exact: each distance is taken to its
  * `DECIMAL(28,6)` value (Spark's own `CAST(d AS DECIMAL(28,6))`, half-up)
  * and summed as an unscaled `long` per cluster, spilling to `BigInteger`
  * on overflow, so the result is bit-stable under any partition/merge
  * order (a parallel double sum is not) and a SQL oracle can reproduce
  * it. Scale 6, not finer: at scale ≥ 10 the decimal half-way boundary is
  * below one double ulp of d×10^s, so engines that scale-in-double before
  * rounding (DuckDB) disagree with exact decimal rounding ~0.2% of the
  * time; at scale 6 the hazard is ~1e-9 per value.
  *
  * Edge semantics (SURVEY §3.2): an empty cluster yields σ = NaN (the
  * reference divides by a zero count, Main.java:93), so every ratio it
  * takes part in is NaN; the running max skips NaN (`NaN > mx` is
  * false), which leaves that cluster's max at its `-Infinity` seed and
  * makes the result exactly `-Infinity`. Duplicate centroids yield
  * d = 0 → Infinity ratio (and NaN if that meets an empty cluster's
  * `-Infinity` in the mean). A null feature array counts toward its
  * cluster but adds no distance; so does a NaN, ±Inf or ≥ 1e22 distance
  * with ANSI off (the cast yields null), while with ANSI on the cast's
  * error propagates. A null or out-of-range label, a dimension mismatch,
  * or a non-empty cluster without one defined distance fails the call.
  */
object Dbi {

  /** @param labeled dataset with a features column and a cluster label
    *                column (0-based ids matching `centroids` indices). */
  def compute(
      labeled: DataFrame,
      centroids: Array[Array[Float]],
      featuresCol: String = "features",
      clusterCol: String = "cluster"): Double = {
    val k = centroids.length
    val dim = centroids(0).length
    val cents = centroids.flatMap(_.map(_.toDouble))
    val mode = EvalMode.fromSQLConf(SQLConf.get)
    val input = labeled.select(col(featuresCol), col(clusterCol).cast("int"))
    val isFloat = input.schema(0).dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"Dbi: $featuresCol must be array<float|double>, got ${other.sql}")
    }
    // A5: scatter per cluster in one pass (reference loops k times over
    // all points, Main.java:86-94) — each row's own-centroid distance,
    // bit-equal to sqrt(VecSqDist), through the same row read as the
    // argmin.
    val partials = input.queryExecution.toRdd.mapPartitions { rows =>
      val acc = new Scatter(k)
      val cast = new Cast6(mode)
      val x = new Array[Double](dim)
      rows.foreach { r =>
        if (r.isNullAt(1))
          throw new IllegalArgumentException("Dbi: null cluster label")
        val c = r.getInt(1)
        if (c < 0 || c >= k)
          throw new IllegalArgumentException(
            s"Dbi: cluster label $c outside [0, $k)")
        acc.cnt(c) += 1
        if (!r.isNullAt(0)) {
          val v = r.getArray(0)
          if (v.numElements() != dim)
            throw new IllegalArgumentException(
              s"vec_sqdist: dim mismatch ${v.numElements()} vs $dim")
          val s =
            if (readRow(v, isFloat, x)) sqdistTo(x, cents, c)
            else sqdistNullable(v, isFloat, cents, c)
          acc.add(c, math.sqrt(s), cast)
        }
      }
      Iterator.single(acc)
    }.collect()

    val total = partials.reduceOption(_ merge _).getOrElse(new Scatter(k))
    // sigma_i = sum/count; empty cluster -> 0/0 = NaN (reference parity)
    val sigma = Array.tabulate(k)(total.sigma)

    // J2: k×k centroid distance matrix, driver-side (Main.java:78-83)
    val dist = Array.tabulate(k, k) { (i, j) =>
      if (i == j) 0.0 else euclidean(centroids(i), centroids(j))
    }
    // A6: max ratio per cluster, then mean (Main.java:96-110)
    var sum = 0.0
    var i = 0
    while (i < k) {
      var mx = Double.NegativeInfinity
      var j = 0
      while (j < k) {
        if (j != i) {
          val r = (sigma(i) + sigma(j)) / dist(i)(j)
          if (r > mx) mx = r
        }
        j += 1
      }
      sum += mx
      i += 1
    }
    sum / k
  }

  /** `d·10⁶` rounded half-up, when a double decides it exactly, else
    * [[NoFast]]. Below 2^31 the scaled double is within a few ulps
    * (< 1e-6) of the exact decimal value of `Double.toString(d)`·10⁶
    * (the value Spark's cast rounds), so a fractional part more than
    * 1e-3 from .5 rounds the same way in both. NaN, larger magnitudes
    * and near-half-way values go through [[Cast6]]. */
  private[kmeans] def fastUnscaled6(d: Double): Long = {
    val t = d * 1e6
    val a = math.abs(t)
    if (a < 2147483648.0) {
      val f = math.floor(a)
      val fr = a - f
      if (math.abs(fr - 0.5) > 1e-3) {
        val m = f.toLong + (if (fr > 0.5) 1L else 0L)
        return if (t < 0) -m else m
      }
    }
    NoFast
  }

  private[kmeans] final val NoFast = Long.MinValue

  /** Spark's own `CAST(d AS DECIMAL(28,6))` under `mode` — the fallback
    * of [[fastUnscaled6]] — built once per task and evaluated on a
    * reused one-field row: the unscaled value, or null where the cast
    * yields null (NaN and ±Inf; beyond precision 28 only with ANSI off,
    * since with ANSI on the cast raises its own error). */
  private[kmeans] final class Cast6(mode: EvalMode.Value) {
    private val cast = Cast(BoundReference(0, DoubleType, nullable = false),
      DecimalType(28, 6), None, mode)
    private val row = new GenericInternalRow(1)

    def unscaled(d: Double): BigInteger = {
      row.setDouble(0, d)
      cast.eval(row) match {
        case null => null
        case v: Decimal => v.toJavaBigDecimal.unscaledValue
      }
    }
  }

  /** Per-cluster exact scatter cells: the unscaled scale-6 distance sum
    * as a `long` (spilling to `BigInteger` on overflow), the row count,
    * and whether any distance was defined. */
  private final class Scatter(k: Int) extends Serializable {
    val unscaled = new Array[Long](k)
    var spill: Array[BigInteger] = null
    val cnt = new Array[Long](k)
    val defined = new Array[Boolean](k)

    def add(c: Int, d: Double, cast: Cast6): Unit = {
      val u = fastUnscaled6(d)
      if (u != NoFast) addUnscaled(c, u)
      else {
        val ub = cast.unscaled(d)
        if (ub == null) return // ANSI off: the cast's null adds nothing
        if (ub.bitLength < 64) addUnscaled(c, ub.longValue)
        else addSpill(c, ub)
      }
      defined(c) = true
    }

    private def addUnscaled(c: Int, u: Long): Unit =
      try { unscaled(c) = Math.addExact(unscaled(c), u) }
      catch { case _: ArithmeticException => addSpill(c, BigInteger.valueOf(u)) }

    private def addSpill(c: Int, u: BigInteger): Unit = {
      if (spill == null) spill = Array.fill(k)(BigInteger.ZERO)
      spill(c) = spill(c).add(u)
    }

    private def exact(c: Int): BigInteger = {
      val u = BigInteger.valueOf(unscaled(c))
      if (spill == null) u else u.add(spill(c))
    }

    /** Exact merge: mutates and returns `this`. */
    def merge(o: Scatter): Scatter = {
      var c = 0
      while (c < k) {
        if (o.spill != null) addSpill(c, o.spill(c))
        addUnscaled(c, o.unscaled(c))
        cnt(c) += o.cnt(c)
        defined(c) |= o.defined(c)
        c += 1
      }
      this
    }

    /** Mean distance of cluster `c`: the exact sum turned into a double
      * once, over the row count (0/0 = NaN for an empty cluster). */
    def sigma(c: Int): Double = {
      if (cnt(c) > 0 && !defined(c))
        throw new IllegalStateException(
          s"Dbi: cluster $c has ${cnt(c)} rows but no defined distance")
      new JBigDecimal(exact(c), 6).doubleValue / cnt(c)
    }
  }
}
