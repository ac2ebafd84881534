package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantile bucketing (decile/percentile assignment) without the
  * single-task trap: `ntile(n) OVER ()` — the textbook form — puts
  * every row through ONE window partition, a straggler that gets worse
  * linearly with data size. Here the boundaries are computed once by a
  * distributed partial/final percentile aggregate, collected to the
  * driver (n−1 doubles — constant size at any data scale), and applied
  * as a broadcast-literal CASE chain inside whole-stage codegen: two
  * scans, zero sorts, zero windows.
  */
object Quantiles {

  /** Add an `outCol` bucket id in [1, buckets] to every row of `df`,
    * splitting `valueCol` at its exact interpolated quantiles
    * (`quantile_cont` semantics — matches DuckDB/Postgres/Spark
    * `percentile`). Rows equal to a boundary fall in the lower bucket;
    * null values get a null bucket.
    *
    * Two jobs by design (boundary pass + assignment pass): callers
    * iterating on the same input should cache it. At 100 TB swap the
    * boundary aggregate for `approx_percentile` — the assignment side
    * is unchanged — at the cost of the exact cross-engine determinism
    * this form is chosen for.
    */
  def quantileBucket(
      df: DataFrame,
      valueCol: String,
      buckets: Int,
      outCol: String = "bucket"): DataFrame = {
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val row = df
      .agg(percentile(col(valueCol), lit(probs.toArray)))
      .first()
    require(!row.isNullAt(0),
      s"$valueCol has no non-null values — no quantile boundaries exist")
    val boundaries = row.getSeq[Double](0)
    val bucket: Column = boundaries
      .map(b => when(col(valueCol) > lit(b), 1).otherwise(0))
      .foldLeft(lit(1): Column)(_ + _)
    df.withColumn(outCol, when(col(valueCol).isNotNull, bucket))
  }

  /** Percentile winsorization — clip `valueCol` to its
    * [pLo, pHi] exact interpolated percentile band (quantile_cont
    * semantics, the q47 device), the outlier-robust feature transform
    * trainers apply before normalization. Boundaries come from ONE
    * distributed partial/final percentile aggregate (constant driver
    * payload) and are baked in as literals, so the clip itself is one
    * codegen'd least/greatest per row — two scans total, no join, no
    * sort. Nulls pass through as nulls. */
  def winsorize(
      df: DataFrame,
      valueCol: String,
      pLo: Double,
      pHi: Double,
      outCol: String): DataFrame = {
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val row = df
      .agg(percentile(col(valueCol).cast("double"),
        lit(Array(pLo, pHi))))
      .first()
    require(!row.isNullAt(0),
      s"$valueCol has no non-null values — no percentile band exists")
    val Seq(lo, hi) = row.getSeq[Double](0)
    df.withColumn(outCol,
      when(col(valueCol).isNull, lit(null).cast("double"))
        .otherwise(least(greatest(col(valueCol).cast("double"), lit(lo)),
          lit(hi))))
  }

  /** Robust scaling — (x − median)/IQR, the outlier-insensitive
    * normalization ([[graft.operators.Features.applyScaler]]'s z-score
    * breaks down when the tail drives mean/σ): p25/p50/p75 from ONE
    * distributed exact-interpolated percentile aggregate (quantile_cont
    * semantics, constant driver payload), baked in as literals; the
    * scale itself is one codegen'd subtract+divide per row — exact
    * parity with no rounding device (single IEEE ops on identical
    * doubles). Nulls pass through; a zero IQR yields null, not ±Inf. */
  def robustScale(
      df: DataFrame,
      valueCol: String,
      outCol: String): DataFrame = {
    val row = df
      .agg(percentile(col(valueCol).cast("double"),
        lit(Array(0.25, 0.5, 0.75))))
      .first()
    require(!row.isNullAt(0),
      s"$valueCol has no non-null values — no quartiles exist")
    val Seq(q1, med, q3) = row.getSeq[Double](0)
    val iqr = q3 - q1
    df.withColumn(outCol,
      if (iqr == 0.0) lit(null).cast("double")
      else when(col(valueCol).isNull, lit(null).cast("double"))
        .otherwise((col(valueCol).cast("double") - med) / iqr))
  }

  // ------------------------------------------------ histogram artifact

  /** Build-once mergeable quantile artifact — the persisted-index
    * precedent (PQ/IVF, MinHash bands, graph tables, CountMin)
    * applied to quantiles: a parquet counter table of fixed-width
    * bins (`bin = ⌊value/binWidth⌋`, one row per OCCUPIED bin) plus
    * a one-row meta. Bins merge by count sum, so a 100-TB corpus
    * builds per-batch histograms and folds them in
    * ([[appendToHistogram]]) instead of re-scanning; quantile probes
    * ([[histogramQuantiles]]) touch only the counter table. Same
    * estimator contract as the streaming form
    * (`EventWindows.streamHistogramQuantile`): integer ceil-rank,
    * lower-edge estimate. */
  def writeHistogram(
      df: DataFrame, valCol: String, binWidth: Double,
      path: String): Unit = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val spark = df.sparkSession
    import spark.implicits._
    graft.sources.Artifacts.publishVersion(spark, path) { vdir =>
      df.where(col(valCol).isNotNull)
        .select(floor(col(valCol) / lit(binWidth)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$vdir/bins")
      Seq(binWidth).toDF("bin_width")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/meta")
    }
  }

  /** Fold a batch into a persisted histogram: counter-wise sum
    * published as the next version (the old version stays live until
    * the pointer moves — [[graft.sources.Artifacts]]), so probes can
    * run concurrently with appends. */
  def appendToHistogram(
      spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, valCol: String): Unit = {
    val cur = graft.sources.Artifacts.latestDir(spark, path,
      "histogram artifact")
    val bw = spark.read.parquet(s"$cur/meta").head().getDouble(0)
    val merged = spark.read.parquet(s"$cur/bins")
      .unionByName(df.where(col(valCol).isNotNull)
        .select(floor(col(valCol) / lit(bw)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt")))
      .groupBy("bin").agg(sum("cnt").as("cnt"))
    import spark.implicits._
    graft.sources.Artifacts.publishVersion(spark, path) { vdir =>
      merged.write.mode("overwrite").parquet(s"$vdir/bins")
      Seq(bw).toDF("bin_width")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/meta")
    }
  }

  /** Probe a persisted histogram for quantiles `(name, num, den)`:
    * estimate = lower edge of the first bin whose cumulative count
    * reaches ⌈n·num/den⌉. The ordered window runs over the COUNTER
    * table (bounded by value-range ÷ binWidth, not by the corpus),
    * which is the one place a single-partition window is the right
    * plan. Returns (qname, n_values, est) ordered by qname. */
  def histogramQuantiles(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      quantiles: Seq[(String, Long, Long)]): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (qn, num, den) =>
      require(num >= 1 && num <= den,
        s"quantile $qn must have 1 <= num <= den, got $num/$den")
    }
    val vdir = graft.sources.Artifacts.latestDir(spark, path,
      "histogram artifact")
    val bw = spark.read.parquet(s"$vdir/meta").head().getDouble(0)
    val bins = spark.read.parquet(s"$vdir/bins")
    // The cumulative sum below is an unpartitioned window — single-task
    // by design, correct ONLY because it runs over the bounded
    // occupied-bin counter table, never the corpus. A tiny binWidth
    // against a wide value range silently breaks that contract, so
    // guard it loudly instead of letting one task absorb the artifact.
    val maxBins = spark.conf
      .getOption("spark.graft.histogram.maxProbeBins")
      .map(_.toLong).getOrElse(4000000L)
    val nBins = bins.count()
    require(nBins <= maxBins,
      s"histogram at $path has $nBins occupied bins > cap $maxBins — " +
        "binWidth is too small for the value range; rebuild with a " +
        "coarser binWidth (or raise spark.graft.histogram.maxProbeBins)")
    val cum = bins.withColumn("cum",
      sum("cnt").over(org.apache.spark.sql.expressions.Window
        .orderBy("bin")))
    val n = bins.agg(sum("cnt").as("n"))
    import spark.implicits._
    val qdf = quantiles.toDF("qname", "num", "den")
    // cum ≥ ⌈n·num/den⌉ ⇔ cum·den ≥ n·num for positive integers — no
    // division at all, so the predicate stays exact past 2⁵³ (a double
    // rank loses integer exactness there) and past 2⁶³ (a long product
    // n·num overflows there, n ~ 1e14 at the 100-TB posture). DECIMAL
    // (38,0) products are exact to 10³⁸.
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    cum.crossJoin(broadcast(n)).crossJoin(broadcast(qdf))
      .where(col("cum").cast(d38) * col("den") >=
        col("n").cast(d38) * col("num"))
      .groupBy("qname")
      .agg(first(col("n")).as("n_values"),
        (min(col("bin")) * lit(bw)).as("est"))
      .orderBy("qname")
  }
}
