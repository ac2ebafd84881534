package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.functions._

/** Vector math used across the engine: clustering (assignment distance),
  * similarity search (cosine / dot), and dedup (embedding near-dup).
  *
  * Two forms of each function:
  *   - a plain Scala form used inside typed `Dataset.map` / driver loops
  *     (parity with the reference's float-in / double-accumulate math,
  *     `Code/KmeanMapReduce/src/PointWritable.java:95-104`);
  *   - a `Column` form built from `org.apache.spark.sql.functions`
  *     higher-order functions (`zip_with` / `aggregate`), which stays
  *     inside Catalyst and whole-stage codegen — preferred in DataFrame
  *     pipelines at scale.
  */
object VectorFunctions {

  // ---------------------------------------------------------------- Scala

  /** Euclidean distance; float inputs, double accumulation — matches the
    * reference (`PointWritable.calcDistance`, PointWritable.java:95-104). */
  def euclidean(a: Array[Float], b: Array[Float]): Double =
    math.sqrt(sqdist(a, b))

  /** Squared Euclidean distance (no sqrt — cheaper for argmin). */
  def sqdist(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dim mismatch: ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dim mismatch: ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  /** Index of the nearest centroid; ties broken to the LOWEST index
    * (strict `<`, matching the reference's running-min,
    * KMapper.java:34-43). */
  def argminCentroid(p: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = sqdist(p, centroids(0))
    var i = 1
    while (i < centroids.length) {
      val d = sqdist(p, centroids(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Element-wise vector sum into `acc` (mutates acc). Partial-aggregate
    * building block — analog of `PointWritable.sum` (PointWritable.java:88-93). */
  def addInto(acc: Array[Double], v: Array[Float]): Unit = {
    var i = 0
    while (i < v.length) { acc(i) += v(i); i += 1 }
  }

  /** The one blocked argmin scan behind every assignment: the index of
    * the nearest of the `k` centroids of the flat k×dim codebook `cents`
    * to the row `x` (dim = `x.length`), picks bit-identical to
    * [[argminCentroid]]. Callers reach it through [[GuessArgmin]], which
    * skips it whenever [[halfGapHit]] proves a guess.
    *
    * `x` and `cents` hold float coordinates widened exactly to double,
    * so `x(i) - cents(..)` is the very difference [[sqdist]] squares.
    * Four centroids run per pass over the row, each with its own
    * left-to-right double accumulator, so every distance is bit-equal
    * to [[sqdist]]'s; the picks then run the same strict-`<` running
    * min seeded from centroid 0 in index order — identical winners,
    * NaN and ±Inf included. */
  def argminSqDist(x: Array[Double], cents: Array[Double], k: Int): Int = {
    val dim = x.length
    val k4 = k - k % 4
    var best = 0
    var bestD = 0.0
    var c = 0
    while (c < k4) {
      val b0 = c * dim; val b1 = b0 + dim; val b2 = b1 + dim; val b3 = b2 + dim
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var i = 0
      while (i < dim) {
        val v = x(i)
        val d0 = v - cents(b0 + i); s0 += d0 * d0
        val d1 = v - cents(b1 + i); s1 += d1 * d1
        val d2 = v - cents(b2 + i); s2 += d2 * d2
        val d3 = v - cents(b3 + i); s3 += d3 * d3
        i += 1
      }
      if (c == 0) bestD = s0
      else if (s0 < bestD) { bestD = s0; best = c }
      if (s1 < bestD) { bestD = s1; best = c + 1 }
      if (s2 < bestD) { bestD = s2; best = c + 2 }
      if (s3 < bestD) { bestD = s3; best = c + 3 }
      c += 4
    }
    while (c < k) {
      val s = sqdistTo(x, cents, c)
      if (c == 0) bestD = s
      else if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** The verified-guess shortcut in front of [[argminSqDist]]: true
    * when `guess` is provably the scan's pick, because
    *
    *   d(x, c_g)²·(1+ε) < r²(g),  r²(g) = ¼·min_{j≠g} d(c_g, c_j)²·(1−ε)
    *
    * (`radii` from [[halfGapRadii]], ε = [[halfGapEps]]`(dim)`). It costs
    * one distance instead of k.
    *
    * Why that is exact (Elkan's half-gap lemma): in real arithmetic
    * d(x,c_g) < ½·d(c_g,c_j) gives d(x,c_j) ≥ d(c_g,c_j) − d(x,c_g) >
    * d(x,c_g) for every j ≠ g. Each computed squared distance over dim
    * terms is within a relative (dim+2)·2⁻⁵³ of the real one, so a
    * margin ε of about 1.5× that keeps every computed d(x,c_j)² strictly
    * above the computed d(x,c_g)²: the strict-`<` scan could not pick
    * another index, not even a lower one on a tie. A NaN or ±Inf row
    * distance fails the test (the caller then scans). */
  def halfGapHit(
      x: Array[Double], cents: Array[Double], radii: Array[Double],
      guess: Int): Boolean =
    sqdistTo(x, cents, guess) * (1.0 + halfGapEps(x.length)) < radii(guess)

  /** The rounding margin ε of the half-gap test for rows of `dim`
    * coordinates: 16× the relative error bound (dim+2)·2⁻⁵³ of one
    * computed squared distance, about 10× what the proof needs. */
  def halfGapEps(dim: Int): Double = (dim + 2) * Ulp49

  private val Ulp49 = math.scalb(1.0, -49)

  /** Smallest non-zero centroid-to-centroid squared distance the
    * shortcut accepts: far above the subnormal range, so underflow in
    * a squared term moves a distance by far less than ε of the radius. */
  private val HalfGapFloor = math.scalb(1.0, -900)

  /** The half-gap radii r²(g) = ¼·min_{j≠g} d(c_g, c_j)²·(1−ε) of the
    * flat k×dim codebook `cents` — computed once per codebook, O(k²·dim).
    * Null (the shortcut off) when a coordinate is NaN or ±Inf, or a
    * pairwise squared distance overflows or lies in (0, 2⁻⁹⁰⁰). A
    * centroid with a duplicate gets radius 0, which no row passes; with
    * k = 1 the radius is +∞ and every finite row passes. */
  def halfGapRadii(cents: Array[Double], k: Int): Array[Double] = {
    if (!cents.forall(v => !v.isNaN && !v.isInfinite)) return null
    val dim = cents.length / k
    val minD = Array.fill(k)(Double.PositiveInfinity)
    val cg = new Array[Double](dim)
    var g = 0
    while (g < k) {
      System.arraycopy(cents, g * dim, cg, 0, dim)
      var j = g + 1
      while (j < k) {
        val d = sqdistTo(cg, cents, j)
        if (d.isInfinite || (d > 0 && d < HalfGapFloor)) return null
        if (d < minD(g)) minD(g) = d
        if (d < minD(j)) minD(j) = d
        j += 1
      }
      g += 1
    }
    val shrink = 1.0 - halfGapEps(dim)
    minD.map(d => 0.25 * d * shrink)
  }

  /** The first-guess table of the flat k×dim codebook `cents` for rows
    * with no earlier pick — built once per codebook, O(64²·k), beside
    * its [[halfGapRadii]]: a [[CellTable]] over the two coordinates in
    * which the centroids spread widest. Null when `radii` is null (the
    * shortcut off) or at dim 1, where the scan is the first guess. */
  def cellTable(cents: Array[Double], k: Int, radii: Array[Double]): CellTable = {
    val dim = cents.length / k
    if (radii == null || dim < 2) return null
    val lo = Array.fill(dim)(Double.PositiveInfinity)
    val hi = Array.fill(dim)(Double.NegativeInfinity)
    var c = 0
    while (c < k) {
      var i = 0
      while (i < dim) {
        val v = cents(c * dim + i)
        if (v < lo(i)) lo(i) = v
        if (v > hi(i)) hi(i) = v
        i += 1
      }
      c += 1
    }
    // the widest axis first, then the widest other one; ties to the lower
    val byWidth = (0 until dim).sortBy(i => -(hi(i) - lo(i)))
    val a = byWidth(0)
    val b = byWidth(1)
    val side = CellTable.Side
    def centre(i: Int, j: Int) = lo(i) + (j + 0.5) * (hi(i) - lo(i)) / side
    val cells = new Array[Int](side * side)
    var ja = 0
    while (ja < side) {
      val ua = centre(a, ja)
      var jb = 0
      while (jb < side) {
        val ub = centre(b, jb)
        var best = 0
        var bestD = Double.PositiveInfinity
        var g = 0
        while (g < k) {
          val da = ua - cents(g * dim + a)
          val db = ub - cents(g * dim + b)
          val s = da * da + db * db
          if (s < bestD) { bestD = s; best = g }
          g += 1
        }
        cells(ja * side + jb) = best
        jb += 1
      }
      ja += 1
    }
    def scale(i: Int) = if (hi(i) > lo(i)) side / (hi(i) - lo(i)) else 0.0
    new CellTable(a, lo(a), scale(a), b, lo(b), scale(b), cells)
  }

  /** Squared distance from the row `x` to centroid `c` of the flat
    * codebook `cents` — [[sqdist]]'s left-to-right double fold. */
  def sqdistTo(x: Array[Double], cents: Array[Double], c: Int): Double = {
    val dim = x.length
    val b = c * dim
    var s = 0.0
    var i = 0
    while (i < dim) { val d = x(i) - cents(b + i); s += d * d; i += 1 }
    s
  }

  /** Adds each row of one packed chunk into its pick's cells of the
    * flat k×dim `sums` exactly as [[addInto]] adds it, in row order,
    * and counts it in `cnts`. */
  def addChunk(
      rows: Array[Float], dim: Int, picks: Array[Int],
      sums: Array[Double], cnts: Array[Long]): Unit = {
    var r = 0
    while (r < picks.length) {
      val o = r * dim
      val b = picks(r) * dim
      var i = 0
      while (i < dim) { sums(b + i) += rows(o + i); i += 1 }
      cnts(picks(r)) += 1
      r += 1
    }
  }

  /** Reads the `x.length` elements of an `array<float|double>` value
    * into `x`, widening floats exactly; false (with `x` partly
    * written) when an element is null. An unsafe array without nulls
    * is read at fixed offsets, with no per-element null test. */
  def readRow(v: ArrayData, isFloat: Boolean, x: Array[Double]): Boolean = {
    val n = x.length
    var i = 0
    v match {
      case u: UnsafeArrayData if nullFreeValues(u) >= 0 =>
        val base = u.getBaseObject
        val at = nullFreeValues(u)
        if (isFloat) while (i < n) { x(i) = Platform.getFloat(base, at + 4L * i); i += 1 }
        else while (i < n) { x(i) = Platform.getDouble(base, at + 8L * i); i += 1 }
      case _ =>
        if (isFloat) while (i < n) {
          if (v.isNullAt(i)) return false
          x(i) = v.getFloat(i)
          i += 1
        }
        else while (i < n) {
          if (v.isNullAt(i)) return false
          x(i) = v.getDouble(i)
          i += 1
        }
    }
    true
  }

  /** The offset in `u`'s base object of its first value when no element
    * is null (every null-bit word zero), else -1. */
  def nullFreeValues(u: UnsafeArrayData): Long = {
    val n = u.numElements()
    val base = u.getBaseObject
    val off = u.getBaseOffset
    var w = 0
    while (w < (n + 63) / 64) {
      if (Platform.getLong(base, off + 8L + 8L * w) != 0L) return -1L
      w += 1
    }
    off + UnsafeArrayData.calculateHeaderPortionInBytes(n)
  }

  /** Squared distance from `v` to centroid `c` of the flat codebook
    * with null elements contributing 0 — the per-element
    * [[graft.functions.VecSqDist]] loop, for rows [[readRow]] rejects. */
  def sqdistNullable(
      v: ArrayData, isFloat: Boolean, cents: Array[Double], c: Int): Double = {
    val dim = v.numElements()
    val b = c * dim
    var s = 0.0
    var i = 0
    while (i < dim) {
      if (!v.isNullAt(i)) {
        val d = (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) -
          cents(b + i)
        s += d * d
      }
      i += 1
    }
    s
  }

  /** [[VecArgminSqDist]]'s per-row step (codegen and eval): the row is
    * read once into the argmin's scratch and picked by
    * [[GuessArgmin.pick]] on its cell-table guess; a row with a null
    * element keeps the per-element "null contributes 0" loop. The
    * caller checks the dimension. */
  def argminRow(v: ArrayData, isFloat: Boolean, am: GuessArgmin): Int =
    if (readRow(v, isFloat, am.x)) am.pick(-1)
    else {
      val cents = am.cents
      val k = am.k
      var best = 0
      var bestD = sqdistNullable(v, isFloat, cents, 0)
      var c = 1
      while (c < k) {
        val s = sqdistNullable(v, isFloat, cents, c)
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    }

  /** Mean with the reference's 5-dp round-half-up on each coordinate
    * (`PointWritable.calcAverage`, PointWritable.java:106-112:
    * `Math.round(v*100000)/100000.0f`). */
  def meanRounded5(sums: Array[Double], n: Long): Array[Float] = {
    val out = new Array[Float](sums.length)
    var i = 0
    while (i < sums.length) {
      val mean = (sums(i) / n).toFloat // reference divides in float space
      out(i) = (Math.round(mean * 100000f) / 100000.0f)
      i += 1
    }
    out
  }

  // --------------------------------------------------------------- Column

  private def expr(c: Column) =
    org.apache.spark.sql.graftshim.expression(c)
  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graftshim.column(e)

  /** Codegen'd dot product of two array<float|double> columns, double
    * accumulation — the native [[VecDot]] expression (the `zip_with` +
    * `aggregate` HOF form is interpreted per element and ~100× slower). */
  def dotCol(a: Column, b: Column): Column = toCol(VecDot(expr(a), expr(b)))

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  def sqdistCol(a: Column, b: Column): Column =
    toCol(VecSqDist(expr(a), expr(b)))

  def euclideanCol(a: Column, b: Column): Column = sqrt(sqdistCol(a, b))

  def cosineCol(a: Column, b: Column): Column = {
    val d = dotCol(a, b)
    val n = normCol(a) * normCol(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** Float-array literal column (`array<float>`). */
  def vecLit(v: Array[Float]): Column = array(v.map(x => lit(x)): _*)

  /** J1 argmin-over-centroids: index of the nearest centroid, ties to
    * the LOWEST index (strict `<` running min seeded from centroid 0,
    * KMapper.java:34-43) — the native [[VecArgminSqDist]] expression,
    * which reads each row once into a per-task scratch, keeps the guess
    * of the codebook's [[cellTable]] when [[halfGapHit]] proves it, and
    * otherwise calls the blocked [[argminSqDist]] scan the Lloyd fold
    * uses, so picks are bit-identical to [[argminCentroid]] and to
    * `fit`'s. The half-gap radii and the cell table are computed once
    * per codebook. The codebook rides in the plan as ONE flat
    * `double[]` reference, so the generated code is a dimension check
    * plus one call at any k·dim: a narrow map, no shuffle, no UDF, and
    * several argmins can share one projection (the PQ encoder). */
  def assignCol(features: Column, centroids: Array[Array[Float]]): Column =
    toCol(VecArgminSqDist(expr(features), centroids.map(_.toSeq).toSeq))
}

/** The argmin over one flat k×dim codebook with the verified-guess
  * shortcut in front, for one caller at a time (a fit task, a labelling
  * task): [[pick]] always returns `VectorFunctions.argminSqDist(x,
  * cents, k)`, and skips that k-centroid scan whenever
  * [[VectorFunctions.halfGapHit]] proves the guess; so does each pick
  * of [[assignChunk]].
  *
  * A miss costs the guess's distance on top of the scan, so after
  * [[GuessArgmin.MissRun]] consecutive misses the next
  * [[GuessArgmin.MissRest]] rows scan without trying; then it tries
  * again. On an input where the test never passes that bounds the
  * extra cost to a few per cent; it never changes a pick.
  *
  * @param radii the codebook's [[VectorFunctions.halfGapRadii]]; null
  *              runs the plain scan for every row
  * @param cells the codebook's [[VectorFunctions.cellTable]], the guess
  *              of a row with no earlier pick; null scans such rows */
final class GuessArgmin(
    val cents: Array[Double], val k: Int, radii: Array[Double],
    cells: CellTable) {

  /** The row scratch: the caller widens the row into it, then picks. */
  val x = new Array[Double](cents.length / k)

  private val slack = 1.0 + VectorFunctions.halfGapEps(x.length)

  private var misses = 0

  /** The pick of the row in [[x]], trying `hint` first — or the cell
    * table's guess when `hint` is negative. */
  def pick(hint: Int): Int =
    if (radii == null || (hint < 0 && cells == null)) scan()
    else if (misses < GuessArgmin.MissRun) {
      val g = if (hint >= 0) hint else cells.guess(x)
      if (VectorFunctions.halfGapHit(x, cents, radii, g)) { misses = 0; g }
      else { misses += 1; scan() }
    } else {
      misses =
        if (misses < GuessArgmin.MissRun + GuessArgmin.MissRest) misses + 1
        else 0
      scan()
    }

  /** The picks of one packed chunk (row-major n×dim floats), each row's
    * [[pick]]: guessing `prev(r)`, the row's pick from the round
    * before, or the cell table's guess when `prev` is null. Previous
    * picks are tested four rows at a time straight off the floats,
    * each distance its own left-to-right double fold, bit-equal to
    * [[VectorFunctions.sqdistTo]]'s; only the rows the half-gap test
    * does not prove are widened and scanned. */
  def assignChunk(rows: Array[Float], prev: Array[Int]): Array[Int] = {
    val dim = x.length
    val n = rows.length / dim
    val picks = new Array[Int](n)
    val cents = this.cents
    val radii = this.radii
    val slack = this.slack
    var r = 0
    while (r < n) {
      if (prev != null && radii != null && r + 4 <= n &&
          misses < GuessArgmin.MissRun) {
        val o0 = r * dim; val o1 = o0 + dim; val o2 = o1 + dim; val o3 = o2 + dim
        val g0 = prev(r); val g1 = prev(r + 1)
        val g2 = prev(r + 2); val g3 = prev(r + 3)
        val b0 = g0 * dim; val b1 = g1 * dim; val b2 = g2 * dim; val b3 = g3 * dim
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var i = 0
        while (i < dim) {
          val d0 = rows(o0 + i) - cents(b0 + i); s0 += d0 * d0
          val d1 = rows(o1 + i) - cents(b1 + i); s1 += d1 * d1
          val d2 = rows(o2 + i) - cents(b2 + i); s2 += d2 * d2
          val d3 = rows(o3 + i) - cents(b3 + i); s3 += d3 * d3
          i += 1
        }
        if (s0 * slack < radii(g0) && s1 * slack < radii(g1) &&
            s2 * slack < radii(g2) && s3 * slack < radii(g3)) {
          picks(r) = g0; picks(r + 1) = g1; picks(r + 2) = g2; picks(r + 3) = g3
          misses = 0
        } else {
          picks(r) = settle(rows, o0, g0, s0)
          picks(r + 1) = settle(rows, o1, g1, s1)
          picks(r + 2) = settle(rows, o2, g2, s2)
          picks(r + 3) = settle(rows, o3, g3, s3)
        }
        r += 4
      } else {
        widen(rows, r * dim)
        picks(r) = pick(if (prev != null) prev(r) else -1)
        r += 1
      }
    }
    picks
  }

  /** The pick of the row at `o` whose guess `g` lies `s` (squared) away:
    * `g` when the half-gap test proves it, else the scan's. */
  private def settle(rows: Array[Float], o: Int, g: Int, s: Double): Int =
    if (s * slack < radii(g)) { misses = 0; g }
    else { misses += 1; widen(rows, o); scan() }

  private def widen(rows: Array[Float], o: Int): Unit = {
    var i = 0
    while (i < x.length) { x(i) = rows(o + i); i += 1 }
  }

  private def scan(): Int = VectorFunctions.argminSqDist(x, cents, k)
}

object GuessArgmin {
  /** Consecutive misses after which [[GuessArgmin.pick]] stops trying. */
  val MissRun = 16

  /** Rows it then scans without trying. */
  val MissRest = 1024
}

/** The first guess of [[GuessArgmin]] for a row with no earlier pick
  * ([[VectorFunctions.cellTable]]): a [[CellTable.Side]]² grid over the
  * codebook's bounding box in coordinates `a` and `b`, each cell
  * holding the centroid nearest to the cell's centre in those two
  * coordinates. A row's guess is its cell's entry, looked up in O(1); a
  * row outside the box takes the nearest edge cell, a NaN coordinate
  * the first. Any index is a valid guess: the half-gap test decides. */
final class CellTable private[functions] (
    a: Int, loA: Double, scaleA: Double,
    b: Int, loB: Double, scaleB: Double,
    cells: Array[Int]) extends Serializable {

  /** The guess for the row `x`. */
  def guess(x: Array[Double]): Int =
    cells(CellTable.index(x(a), loA, scaleA) * CellTable.Side +
      CellTable.index(x(b), loB, scaleB))
}

object CellTable {
  /** Cells per axis. */
  val Side = 64

  /** The clamped cell index of coordinate `v` on an axis from `lo`, at
    * `scale` cells per unit (0 for an axis of no spread); NaN maps to 0. */
  private def index(v: Double, lo: Double, scale: Double): Int =
    math.min(Side - 1, math.max(0, ((v - lo) * scale).toInt))
}
