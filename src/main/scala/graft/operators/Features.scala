package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** ML feature-preparation operators: per-key rolling window features,
  * leave-one-out target encoding, and group-aware train/val/test
  * splitting — the tabular-feature hygiene steps between a curated
  * corpus and a trainer.
  *
  * Determinism devices are the repo's standard ones: windowed and
  * grouped sums go through DECIMAL (exact, order-independent), every
  * emitted float is either an exact pass-through or ONE double
  * division of exact quantities, and the split coin is the seeded-md5
  * hash (partition/retry/engine-invariant).
  */
object Features {

  /** Per-key rolling features over the event stream, in (`tsCol`,
    * `idCol`) order: previous value (lag 1), rolling row count, and
    * rolling mean over the last `n` rows (inclusive). The windowed sum
    * runs in DECIMAL(18,4) — exact under any frame evaluation order —
    * and the mean is one double division, so every feature is
    * bit-identical across engines.
    *
    * Scale shape: ONE hash exchange on the key + one per-key ordered
    * sort serves all three window features (a single Window spec);
    * per-row state is the n-row frame. Returns
    * (key, id, v_lag1, roll_n, roll_mean) ordered by (key, id). */
  def rollingFeatures(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"window must be >= 1 rows, got $n")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val wf = w.rowsBetween(-(n - 1), 0)
    df.select(col(keyCol), col(tsCol), col(idCol),
        col(valCol).cast("double").as("_graft_v"))
      .select(col(keyCol), col(idCol),
        lag(col("_graft_v"), 1).over(w).as("v_lag1"),
        count(lit(1)).over(wf).as("roll_n"),
        (sum(col("_graft_v").cast(DecimalType(18, 4))).over(wf)
          .cast("double") / count(lit(1)).over(wf)).as("roll_mean"))
      .orderBy(keyCol, idCol)
  }

  /** Leave-one-out target encoding: each row's category feature is the
    * mean target of the OTHER rows in its category,
    * (Σ_cat − xᵢ) / (n_cat − 1) — the standard leakage-free encoding
    * for high-cardinality categoricals; null when the row is alone in
    * its category. The category sum is an exact DECIMAL(18,4)
    * aggregate; the subtraction stays in DECIMAL and only the final
    * division touches doubles.
    *
    * Scale shape: the category table is one partial/final aggregate
    * (categories-sized, broadcast back onto the rows) — the row side
    * never shuffles. Returns (id, cat, loo) ordered by id. */
  def targetEncodeLoo(
      df: DataFrame,
      catCol: String,
      idCol: String,
      targetCol: String): DataFrame = {
    val rows = df.select(col(idCol), col(catCol),
      col(targetCol).cast("double").as("_graft_t"))
    val stats = rows.groupBy(col(catCol))
      .agg(sum(col("_graft_t").cast(DecimalType(18, 4))).as("_graft_s"),
        count(lit(1)).as("_graft_n"))
    rows.join(broadcast(stats), catCol)
      .select(col(idCol), col(catCol),
        when(col("_graft_n") === 1, lit(null).cast("double"))
          .otherwise(
            (col("_graft_s") - col("_graft_t").cast(DecimalType(18, 4)))
              .cast("double") / (col("_graft_n") - 1))
          .as("loo"))
      .orderBy(idCol)
  }

  /** Hashing-trick featurizer (Weinberger et al. 2009): each
    * categorical column's value is hashed to one of `dim` buckets with
    * a ±1 sign bit, and the row's feature vector is the signed bucket
    * count — the fixed-width encoding for unbounded-vocabulary
    * categoricals (no fitted dictionary, no vocabulary shuffle, new
    * values at inference hash consistently). The sign bit keeps inner
    * products unbiased under collisions.
    *
    * Both hashes ride the repo's seeded-md5 device (bucket = first 8
    * hex chars mod `dim`, sign = 9th hex digit's parity), namespaced
    * by column name — so the encoding is partition/retry/engine-
    * invariant and SQL-replayable. A null value contributes nothing.
    *
    * Scale shape: pure per-row codegen'd expressions (dim × |cols|
    * CASE terms), zero shuffle, zero state. Returns
    * (`idCol`, h0..h{dim-1}) with LONG counts. */
  def hashFeatures(
      df: DataFrame,
      idCol: String,
      featureCols: Seq[String],
      dim: Int,
      seed: Long): DataFrame = {
    require(dim >= 2 && dim <= 1024, s"dim must be in [2, 1024], got $dim")
    require(featureCols.nonEmpty, "need at least one feature column")
    def h(c: String): Column =
      md5(concat(lit(s"$seed-$c="), col(c).cast("string")))
    def bucket(c: String): Column =
      conv(substring(h(c), 1, 8), 16, 10).cast("long") % dim
    def sign(c: String): Column =
      when(conv(substring(h(c), 9, 1), 16, 10).cast("long") % 2 === 0,
        lit(1L)).otherwise(lit(-1L))
    // hash each feature column ONCE (bucket + sign in one projection),
    // then fan the dim output cells off the precomputed pair: the
    // inline form repeated the md5+conv trees in every (dim × column)
    // cell and relied on optimizer subexpression elimination to dedupe
    // them — this makes the sharing structural (2 md5 + 3 conv per
    // row, total). Cell values are unchanged: same hashes, same
    // comparisons, exact integer sums.
    val pre = df.select(col(idCol) +: featureCols.zipWithIndex.flatMap {
      case (c, j) => Seq(bucket(c).as(s"_b_$j"), sign(c).as(s"_s_$j"))
    }: _*)
    val hs = (0 until dim).map { i =>
      featureCols.indices.map(j =>
          when(col(s"_b_$j") === i, col(s"_s_$j")).otherwise(lit(0L)))
        .reduce(_ + _).as(s"h$i")
    }
    pre.select(col(idCol) +: hs: _*)
  }

  /** Fit per-column scaling statistics in ONE partial/final aggregate
    * pass and persist them as a one-row-per-column parquet artifact at
    * `path` — the fit half of the fit/transform split every trainer
    * needs (fit on train, apply everywhere), and the persisted-model
    * shape of the PQ/IVF/graph artifacts applied to feature prep.
    * Stats: exact min/max, count, and the q135 exact-variance sums
    * (Σx as DECIMAL(18,4), Σx² as DECIMAL(28,8) — lossless for 2-dp
    * inputs), so mean/stddev derived downstream are fixed-order double
    * expressions of exact quantities. */
  def fitScaler(df: DataFrame, cols: Seq[String], path: String): Unit = {
    require(cols.nonEmpty, "need at least one column to fit")
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"${c}__mn"),
      max(col(c).cast("double")).as(s"${c}__mx"),
      count(col(c)).as(s"${c}__n"),
      sum(col(c).cast(DecimalType(18, 4))).cast("double").as(s"${c}__s"),
      sum((col(c) * col(c)).cast(DecimalType(28, 8))).cast("double")
        .as(s"${c}__ssq")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stats = cols.map(c => one.select(lit(c).as("column"),
        col(s"${c}__mn").as("mn"), col(s"${c}__mx").as("mx"),
        col(s"${c}__n").as("n"), col(s"${c}__s").as("s"),
        col(s"${c}__ssq").as("ssq")))
      .reduce(_.unionByName(_))
    graft.sources.Artifacts.publishVersion(df.sparkSession, path) {
      vdir =>
        stats.coalesce(1).write.mode("overwrite").parquet(s"$vdir/stats")
    }
  }

  /** Apply a persisted scaler artifact: for every fitted column, add
    * `<col>_minmax` ((x−min)/(max−min)) and `<col>_z` ((x−mean)/sd,
    * sample sd from the exact sums). The artifact is one row per
    * column — collected (bounded by the fitted-column count) and baked
    * into codegen'd literal expressions, so the transform is a pure
    * map: no join, no shuffle, the scan side never moves. A constant
    * column yields null `_minmax` (min = max) and null `_z` (sd = 0)
    * rather than ±Inf/NaN. */
  def applyScaler(df: DataFrame, path: String): DataFrame = {
    val vdir = graft.sources.Artifacts.latestDir(df.sparkSession, path,
      "scaler artifact")
    val stats = df.sparkSession.read.parquet(s"$vdir/stats")
      .select("column", "mn", "mx", "n", "s", "ssq").collect()
    require(stats.nonEmpty, s"no scaler artifact at $path")
    stats.foldLeft(df) { (d, r) =>
      val (c, mn, mx) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      val (n, s, ssq) = (r.getLong(3), r.getDouble(4), r.getDouble(5))
      val mean = s / n
      val sd = math.sqrt((ssq - s * s / n) / (n - 1))
      d.withColumn(s"${c}_minmax",
          if (mn == mx) lit(null).cast("double")
          else (col(c) - mn) / (mx - mn))
        .withColumn(s"${c}_z",
          if (sd == 0.0 || sd.isNaN) lit(null).cast("double")
          else (col(c) - mean) / sd)
    }
  }

  /** Frequency (count) encoding of a categorical column — the
    * zero-leakage sibling of [[targetEncodeLoo]] (it never sees the
    * target): each row gains its category's row count and corpus
    * fraction. One partial/final count aggregate (categories-sized)
    * broadcast back onto the rows — the row side never shuffles; the
    * fraction is one division of exact longs, engine-identical. Null
    * categories encode like any other value. Returns the input plus
    * (`<cat>_count`, `<cat>_frac`). */
  def frequencyEncode(df: DataFrame, catCol: String): DataFrame = {
    val n = df.count()
    require(n > 0, "cannot frequency-encode an empty frame")
    require(!df.columns.contains("_graft_cat"),
      "column name _graft_cat is reserved by frequencyEncode")
    val counts = df.groupBy(col(catCol).as("_graft_cat"))
      .agg(count(lit(1)).as(s"${catCol}_count"))
    // null-safe join key: a plain equi-join would leave null
    // categories unencoded (null never equi-matches null)
    df.join(broadcast(counts), col(catCol) <=> col("_graft_cat"), "left")
      .drop("_graft_cat")
      .withColumn(s"${catCol}_frac",
        col(s"${catCol}_count").cast("double") / n)
  }

  /** All pairwise Pearson correlations of `cols` in ONE aggregation
    * pass — the feature-redundancy screen before training: k·(k−1)/2
    * `corr` aggregates (codegen'd central-moment partial/final) over
    * one scan, long-formed from the single counter row. Rounded to
    * `dp` decimals (the q48 device — co-moment accumulation is
    * partition-order-dependent). Returns (col_a, col_b, corr) ordered
    * by (col_a, col_b); a constant column yields null against
    * everything. */
  def correlationMatrix(
      df: DataFrame, cols: Seq[String], dp: Int = 6): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    require(cols.distinct.size == cols.size,
      s"columns must be unique, got $cols")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    // corr via try_divide(covar, σ·σ): the builtin `corr` throws
    // DIVIDE_BY_ZERO under ANSI mode on a zero-variance column, where
    // the contract here is null — mathematically the same quantity
    // (the (n−1) factors cancel), and the dp-rounding absorbs the
    // evaluation-order ulps either way
    val aggs = pairs.zipWithIndex.map { case ((a, b), i) =>
      round(try_divide(covar_samp(col(a), col(b)),
        stddev_samp(col(a)) * stddev_samp(col(b))), dp).as(s"__c$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          col(s"__c$i").as("corr"))
      }: _*)).as("p"))
      .select("p.*")
      .orderBy("col_a", "col_b")
  }

  /** Mutual information (nats) between two categorical columns — the
    * feature-relevance screen (how much does knowing x say about y):
    * MI = Σ_cells p(x,y)·ln(p(x,y)/(p(x)p(y))), from EXACT joint
    * counts. One (x, y) groupBy builds the cell table; marginals and
    * the total aggregate from the (tiny) cell table and broadcast
    * back, so the row data shuffles once. Each cell's term is a fixed
    * double expression of exact longs, rounded to 12 dp and summed in
    * DECIMAL (the PageRank contribution device) — the result is
    * partition-order-exact and engine-replayable. Null categories
    * count as their own cell. Returns one row (mi_nats, n_rows,
    * n_cells). */
  def mutualInformation(
      df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("c"))
    val mx = cells.groupBy("x").agg(sum("c").as("cx"))
    val my = cells.groupBy("y").agg(sum("c").as("cy"))
    val n = cells.agg(sum("c").as("n"))
    cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(n))
      .select(
        round(
          (col("c").cast("double") / col("n")) *
            log(col("c").cast("double") * col("n") /
              (col("cx").cast("double") * col("cy"))),
          12).as("term"),
        col("n"))
      .agg(
        sum(col("term").cast(DecimalType(38, 12))).cast("double")
          .as("mi_nats"),
        max(col("n")).as("n_rows"),
        count(lit(1)).as("n_cells"))
  }

  /** Per-key linear trend (OLS slope of `valCol` over `tsCol`, in
    * units per day) from EXACT sums — the drift/seasonality screen
    * per segment: x = epoch micros minus the global minimum (one
    * tiny pre-aggregate, baked as a literal, keeping x² inside
    * DECIMAL(38)), then Σx, Σy, Σxy, Σx² are exact DECIMAL
    * aggregates and the slope one fixed double expression of them,
    * rounded to 9 dp — the q139 lesson applied up front: the huge
    * exact sums may cast to double 1 ulp apart across engines, and
    * the final round absorbs it. Returns (key, n_rows,
    * slope_per_day) ordered by key; a single-point or zero-variance
    * key yields null. */
  def groupTrend(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String): DataFrame = {
    val minUs = df.agg(min(unix_micros(col(tsCol)))).head().getLong(0)
    val x = (unix_micros(col(tsCol)) - minUs).cast(DecimalType(20, 0))
    val y = col(valCol).cast(DecimalType(18, 4))
    val s = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum((x * y).cast(DecimalType(38, 4))).cast("double").as("sxy"),
        sum((x * x).cast(DecimalType(38, 0))).cast("double").as("sxx"))
    val denom = col("n_rows") * col("sxx") - col("sx") * col("sx")
    s.select(col(keyCol), col("n_rows"),
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise(round(
            (col("n_rows") * col("sxy") - col("sx") * col("sy")) / denom
              * 86400000000.0, 9))
          .as("slope_per_day"))
      .orderBy(keyCol)
  }

  /** Group-aware train/valid/test split: the seeded-md5 coin is
    * flipped on the GROUP key (e.g. the user), so every row of a group
    * lands in the same split — the leakage-hygiene property a per-row
    * split (q54's shape) cannot give when rows of one entity are
    * correlated. Buckets 0..`trainPct`-1 → train,
    * ..`trainPct`+`validPct`-1 → valid, rest → test (percent units of
    * 1/100). Adds a `split` column; pure map-side (the hash is
    * computed per row from the group key — no shuffle, no state). */
  def groupSplit(
      df: DataFrame,
      groupCol: String,
      seed: Long,
      trainPct: Int,
      validPct: Int): DataFrame = {
    require(trainPct >= 1 && validPct >= 0 && trainPct + validPct <= 100,
      s"bad split percentages ($trainPct, $validPct)")
    val bucket = conv(substring(
        md5(concat(lit(s"$seed-"), col(groupCol).cast("string"))), 1, 8),
      16, 10).cast("long") % 100
    df.withColumn("split",
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + validPct, lit("valid"))
        .otherwise(lit("test")))
  }

  /** Percent-rank (quantile) normalization of `valCol` within each
    * `groupCol` — the distribution-free feature transform (maps any
    * marginal to ~uniform[0,1], robust to outliers where z-scores are
    * not; ties share a rank, single-row groups map to 0). The ANSI
    * `percent_rank` = (rank−1)/(n−1) is one integer division — exact
    * in any engine. Scale shape: ONE hash exchange on the group + a
    * per-group sort; no global window (the q148 lesson — a
    * partitionless window is a single-task sort). */
  def rankNormalize(
      df: DataFrame, valCol: String, groupCol: String,
      outCol: String = "pr"): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valCol))
    df.withColumn(outCol, percent_rank().over(w))
  }

  /** Per-key inter-arrival profile: event count, mean gap (seconds),
    * and the coefficient of variation of the gaps — THE burstiness
    * discriminator (CV ≈ 1 Poisson, ≫ 1 bursty, ≪ 1 periodic); the
    * bot/organic screen next to q11's text quality. Gaps are exact
    * long micros; Σgap stays a long, Σgap² runs in DECIMAL(38,0)
    * (a squared month of micros overflows a long); mean/cv are fixed
    * double expressions of the exact sums, 9-dp rounded (the q139
    * lesson). Keys with < 2 events have no gaps → null stats.
    * One window lag + one aggregate, both on the key exchange. */
  def interArrivalStats(
      df: DataFrame, keyCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    val gap = df
      .select(col(keyCol), (unix_micros(col(tsCol)) -
        lag(unix_micros(col(tsCol)), 1).over(w)).as("g"))
    gap.groupBy(keyCol)
      .agg(count(lit(1)).as("n_events"),
        sum(col("g")).as("sg"),
        sum((col("g").cast(DecimalType(38, 0)) *
          col("g").cast(DecimalType(38, 0))).cast(DecimalType(38, 0)))
          .cast("double").as("sgg"),
        count(col("g")).as("ng"))
      .select(col(keyCol), col("n_events"),
        when(col("ng") === 0, lit(null).cast("double"))
          .otherwise(round(col("sg").cast("double") / col("ng") /
            lit(1000000.0), 9)).as("mean_gap_sec"),
        // greatest(·, 0): float cancellation can leave a −ε variance,
        // and sqrt(−ε) would be an engine-dependent NaN
        when(col("ng") < 2 || col("sg") === 0, lit(null).cast("double"))
          .otherwise(round(
            sqrt(greatest((col("sgg") - col("sg").cast("double") *
              col("sg").cast("double") / col("ng")) / col("ng"),
              lit(0.0))) /
              (col("sg").cast("double") / col("ng")), 9)).as("cv"))
      .orderBy(keyCol)
  }

  /** Pearson chi-square statistic of a two-categorical contingency
    * table — the classical independence test next to
    * [[mutualInformation]] (same exact cell machinery, the textbook
    * statistic instead of nats): χ² = Σ_cells (o − e)²/e with
    * e = row·col/n from EXACT counts; per-cell terms 12-dp-rounded
    * and DECIMAL-summed. Returns one row
    * (chi2, dof, n_rows, n_cells). */
  def chiSquare(
      df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("c"))
    val mx = cells.groupBy("x").agg(sum("c").as("cx"))
    val my = cells.groupBy("y").agg(sum("c").as("cy"))
    val n = cells.agg(sum("c").as("n"))
    val nx = mx.agg(count(lit(1)).as("nx"))
    val ny = my.agg(count(lit(1)).as("ny"))
    val e = col("cx").cast("double") * col("cy").cast("double") /
      col("n").cast("double")
    val o = coalesce(col("c"), lit(0L)).cast("double")
    // the FULL marginal grid, not just observed cells: a structural
    // zero still contributes its whole expectation e to χ²
    mx.crossJoin(my)
      .join(cells, Seq("x", "y"), "left")
      .crossJoin(broadcast(n))
      .select(
        round((o - e) * (o - e) / e, 12)
          .cast(DecimalType(38, 12)).as("term"))
      .agg(sum(col("term")).cast("double").as("chi2"),
        count(lit(1)).as("n_cells"))
      .crossJoin(broadcast(n.select(col("n").as("n_rows"))))
      .crossJoin(broadcast(nx)).crossJoin(broadcast(ny))
      .select(col("chi2"),
        ((col("nx") - 1) * (col("ny") - 1)).as("dof"),
        col("n_rows"), col("n_cells"))
  }

  /** Top principal component of the CORRELATION matrix of `cols` by
    * power iteration — the one-line "what single axis explains these
    * features" screen next to [[correlationMatrix]] (correlation, not
    * covariance, so mixed-unit features contribute comparably).
    *
    * Exactness device, end to end: (1) the moment sums run
    * distributed in DECIMAL (values cast to DECIMAL(18,4) — exact for
    * ≤4-dp inputs — products exact at scale 8), so the corr entries
    * are fixed double expressions of EXACT sums, rounded to 9 dp;
    * (2) the d² iteration then runs driver-side (the DBI/centroid
    * bounded-k² precedent) with every matvec term rounded to 12 dp
    * and summed exactly, damped updates rounded to 9 dp — so the
    * whole loop is bit-replayable by a recursive-CTE SQL oracle.
    * Returns one row per feature: (feature, loading, lambda) with
    * `lambda` the Rayleigh estimate ‖Cv‖ of the final iterate (same
    * all rows). The data pass is ONE aggregate; only the d×d matrix
    * ever reaches the driver. */
  def pcaPowerTop(
      df: DataFrame, cols: Seq[String], iters: Int): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size,
      s"columns must be unique, got $cols")
    require(iters >= 1 && iters <= 100, s"iters must be 1..100, got $iters")
    val d = cols.size
    val dec4 = DecimalType(18, 4)
    val dec38 = DecimalType(38, 8)
    val xs = cols.map(c => col(c).cast(dec4))
    val pairIdx = for { i <- 0 until d; j <- i until d } yield (i, j)
    val aggs = (count(lit(1)).as("n") +:
      cols.indices.map(i => count(xs(i)).as(s"c$i"))) ++
      cols.indices.map(i => sum(xs(i)).as(s"s$i")) ++
      pairIdx.map { case (i, j) =>
        sum((xs(i) * xs(j)).cast(dec38)).as(s"s${i}_$j")
      }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0).toDouble
    require(n > 0, "need at least one row")
    // moment sums skip nulls while count(*) doesn't, which would
    // silently bias every covariance — require fully-populated columns
    // (this also turns an all-null column into a clear error instead of
    // an opaque NPE on the null Decimal below)
    cols.indices.foreach { i =>
      val ci = row.getLong(1 + i)
      require(ci == row.getLong(0),
        s"${cols(i)} has ${row.getLong(0) - ci} null value(s) — " +
          "pcaPowerTop requires non-null inputs (filter or impute first)")
    }
    val s = cols.indices.map(i => row.getDecimal(1 + d + i).doubleValue)
    val sij = pairIdx.zipWithIndex.map { case ((i, j), k) =>
      (i, j) -> row.getDecimal(1 + 2 * d + k).doubleValue
    }.toMap
    def cov(i: Int, j: Int): Double = {
      val (a, b) = (math.min(i, j), math.max(i, j))
      sij((a, b)) / n - (s(a) / n) * (s(b) / n)
    }
    cols.indices.foreach(i => require(cov(i, i) > 0,
      s"${cols(i)} has zero variance — correlation undefined"))
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val c = Array.tabulate(d, d)((i, j) =>
      r9(cov(i, j) / math.sqrt(cov(i, i) * cov(j, j))))
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i =>
        cols.indices.map(j => r12(c(i)(j) * v(j))).sum.toDouble)
    def norm(w: Array[Double]): Double =
      math.sqrt(w.map(x => r12(x * x)).sum.toDouble)
    var v = Array.fill(d)(r9(1.0 / math.sqrt(d.toDouble)))
    (1 to iters).foreach { _ =>
      val w = matvec(v)
      val nr = norm(w)
      v = w.map(x => r9(x / nr))
    }
    val lambda = r9(norm(matvec(v)))
    val spark = df.sparkSession
    import spark.implicits._
    cols.zip(v).map { case (name, l) => (name, l, lambda) }
      .toDF("feature", "loading", "lambda")
      .orderBy("feature")
  }
}
