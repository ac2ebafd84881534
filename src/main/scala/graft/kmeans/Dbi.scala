package graft.kmeans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorFunctions._

/** Davies–Bouldin Index — the reference's evaluation query
  * (`calculateDBI`, Main.java:71-111):
  *
  *   DBI = (1/k) Σᵢ maxⱼ≠ᵢ (σᵢ + σⱼ) / d(cᵢ, cⱼ)
  *
  * The reference computes it single-threaded over the whole dataset held
  * in driver memory (O(n·k) driver work). Here the O(n) part — per-cluster
  * scatter σᵢ = mean point→centroid distance (A5) — is one distributed
  * `groupBy` aggregation; only the O(k²) arithmetic runs on the driver.
  *
  * Edge semantics (SURVEY §3.2): an empty cluster yields σ = NaN (the
  * reference divides by a zero count, Main.java:93), so every ratio it
  * takes part in is NaN; the running max skips NaN (`NaN > mx` is
  * false), which leaves that cluster's max at its `-Infinity` seed and
  * makes the result exactly `-Infinity`. Duplicate centroids yield
  * d = 0 → Infinity ratio (and NaN if that meets an empty cluster's
  * `-Infinity` in the mean).
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
    // Distance to the row's own centroid: the codebook as one literal
    // array<array<float>>, indexed by the label (1-based element_at),
    // through the codegen'd `VecSqDist` kernel — one expression at any
    // k, inside whole-stage codegen, no UDF.
    val dCol = euclideanCol(col(featuresCol),
      element_at(typedLit(centroids), col(clusterCol).cast("int") + 1))
    // A5: scatter per cluster in one pass (reference loops k times over
    // all points, Main.java:86-94). The distance sum goes through
    // DECIMAL — exact and associative, so the result is bit-stable under
    // any partition/merge order (a parallel double sum is not) and a SQL
    // oracle can reproduce it. Scale 6, not finer: at scale ≥ 10 the
    // decimal half-way boundary is below one double ulp of d×10^s, so
    // engines that scale-in-double before rounding (DuckDB) disagree
    // with exact decimal rounding ~0.2% of the time; at scale 6 the
    // hazard is ~1e-9 per value.
    val rows = labeled
      .select(col(clusterCol).cast("int").as("cluster"), dCol.as("d"))
      .groupBy("cluster")
      .agg(sum(col("d").cast(DecimalType(28, 6))).cast("double").as("sd"),
        count(lit(1)).as("cnt"))
      .collect()

    val sumD = new Array[Double](k)
    val cnt = new Array[Long](k)
    rows.foreach { r =>
      sumD(r.getInt(0)) = r.getDouble(1)
      cnt(r.getInt(0)) = r.getLong(2)
    }
    // sigma_i = sum/count; empty cluster -> 0/0 = NaN (reference parity)
    val sigma = Array.tabulate(k)(i => sumD(i) / cnt(i))

    // J2: k×k centroid distance matrix, driver-side (Main.java:78-83)
    val dist = Array.tabulate(k, k) { (i, j) =>
      if (i == j) 0.0 else euclidean(centroids(i), centroids(j))
    }
    // A6: max ratio per cluster, then mean (Main.java:96-110)
    var total = 0.0
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
      total += mx
      i += 1
    }
    total / k
  }
}
