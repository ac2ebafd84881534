package graft.kmeans

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GuessArgmin
import graft.functions.VectorFunctions._

/** Parameters mirroring the reference CLI
  * (`Code/KmeanMapReduce/src/Main.java:258-266`):
  * `-Dk` / `-Dthresh` / `-Dmaxloop`, plus the determinism knobs the
  * reference lacks (seed, injectable init centroids — its init is an
  * unseeded `Random`, Main.java:135).
  *
  * `maxLoop` preserves the reference's off-by-one: the loop counter is
  * checked BEFORE each job, so at most `maxLoop - 1` iterations run
  * (Main.java:303-305).
  */
final case class KMeansParams(
    k: Int = 3,
    threshold: Double = 0.001,
    maxLoop: Int = 50,
    seed: Long = 42L,
    featuresCol: String = "features",
    initCentroids: Option[Array[Array[Float]]] = None)

/** Fitted model: final centroids + loop metadata. The reference never
  * persists labels (only centroids, Main.java:356-359); `transform`
  * exposes labeling as a real distributed operator (SURVEY §3.3). */
final case class KMeansModel(
    centroids: Array[Array[Float]],
    iterations: Int,
    converged: Boolean) {

  /** Label every row with its nearest centroid — a pure narrow map, no
    * shuffle (reference does this driver-side over the whole dataset,
    * Main.java:345-355; we stay distributed). The argmin is the native
    * `VecArgminSqDist` expression
    * ([[graft.functions.VectorFunctions.assignCol]]): each row is read
    * once into a per-task scratch, a guess from its first two
    * coordinates is kept when the half-gap test proves it, and
    * otherwise the row runs the same blocked scan as [[KMeans.fit]] —
    * so labels are the fit's picks, bit for bit, inside whole-stage
    * codegen, no UDF, lowest-index ties. It keeps the caller's
    * partitioning: one task per input partition. */
  def transform(
      df: DataFrame,
      featuresCol: String = "features",
      outputCol: String = "cluster"): DataFrame =
    df.withColumn(outputCol, assignCol(col(featuresCol), centroids))

  def centroidsAsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toSeq
      .toDF("cluster", "centroid")
  }
}

/** Spark-native Lloyd's K-Means — the reference's whole pipeline
  * (SURVEY §3.1) re-expressed:
  *
  *   - per-iteration MapReduce job  →  one cached distributed dataset +
  *     one narrow partial-aggregation pass per iteration;
  *   - Hadoop's input splits  →  P balanced slices of packed row-major
  *     float chunks, P = max(input partitions, default parallelism), so
  *     every core folds a share of the rows however the caller's input
  *     is partitioned;
  *   - centroids through Hadoop `Configuration` →  `sparkContext.broadcast`
  *     of one flat k×dim `double[]`;
  *   - reducer-output file round-trip (Main.java:175-203)  →  `collect()`
  *     of per-slice partials, final merge on the driver;
  *   - input re-read per job (Main.java:318 in-loop)  →  the packed
  *     chunks cached with each round's picks.
  *
  * The iteration body is the combiner/reducer split made explicit
  * (KCombiner.java:9-18 / KReducer.java:12-26): each slice picks every
  * row's nearest centroid and adds the row into k×(dim+1) partial
  * (sum, count) cells — A2 — and the driver merges the k-sized partials
  * and takes the rounded mean — A3. It runs as `mapPartitions` +
  * `collect` rather than a per-iteration `groupBy().agg()` because an
  * iterative loop re-plans a k×dim aggregate every pass (measured
  * ~1.2 s/iteration of analysis/codegen/scheduling overhead at bench
  * scale — the dominant cost for small inputs), whereas this loop
  * reuses the cached chunks and ships only k×(dim+1)×P doubles to the
  * driver per iteration. There is one
  * rebalancing shuffle at cache time, none per round: rows are packed
  * into chunks inside their source partition, and chunk (source s,
  * index c) moves to slice (s + c) mod P. The declarative `groupBy` form
  * of the same aggregation remains the engine's single-step operator
  * (q07) where Catalyst's partial/final HashAggregate split is asserted
  * by PlanSpec.
  *
  * Verified guesses: a round's generation is its slices' chunks, each
  * paired with its rows' picks (one `Int` per row), cached and locally
  * checkpointed. The next round tries each row's previous pick first
  * and keeps it when Elkan's half-gap test proves it
  * ([[graft.functions.VectorFunctions.halfGapHit]]: one distance
  * instead of k; round 1 guesses from the first two coordinates); a
  * miss runs the plain blocked scan
  * ([[graft.functions.VectorFunctions.argminSqDist]]). Every pick is
  * the scan's, and rows are added in the same order, so centroids are
  * bit-identical to a fit that always scans (KMeansSpec pins it). The
  * previous generation is released after each round's collect.
  *
  * Determinism: each slice folds in chunk-key order — the rebalancing
  * shuffle sorts each slice by (s, c), so the order never depends on
  * shuffle fetch order — as a double fold (the reference combiner's
  * semantics per partition); then each slice's cells are lifted to exact
  * `BigDecimal`s for the merge. Exact addition is associative, so the
  * merged sum is independent of merge ORDER and merge SHAPE — the
  * driver's sequential fold and the gated `treeReduce` below are
  * bit-identical by construction (the PageRank DECIMAL device, applied
  * to the k×(dim+1) partial cells), and the result is bit-stable across
  * runs (a parallel `sum()` over raw doubles is not). Each merged cell
  * is converted to double exactly once before the 5-dp float mean.
  *
  * Parity-preserving semantics: f32 coordinates, mean computed in float
  * then rounded to 5 dp half-up at the final aggregate only
  * (`PointWritable.calcAverage`, PointWritable.java:106-112), argmin ties
  * to the lowest index (KMapper.java:39), convergence when every centroid
  * moved `<= threshold` (Main.java:205-220), at most `maxLoop - 1`
  * iterations. Divergence (documented, SURVEY §7.4.3): an empty cluster
  * keeps its previous centroid instead of NPE-ing the driver.
  *
  * At scale: assignment+partial-agg is one narrow pass over cached
  * slices; a 1000-executor run returns k×(dim+1) cells per slice to the
  * driver (tens of MB at 10k slices). When k×dim×P outgrows the driver
  * envelope the loop swaps the `collect` for a 2-level `treeReduce` —
  * executors pre-merge partials so the driver receives ONE k×(dim+1)
  * table per round instead of P of them. Gate:
  * `spark.graft.kmeans.treeReducePartitions` (default 1024 slices —
  * below it the extra treeReduce stage costs more than it saves; at 10k+
  * slices it bounds driver ingress). The per-slice fold is unchanged and
  * the exact-cell merge makes the two paths bit-identical (KMeansSpec
  * pins it).
  */
object KMeans {

  /** Partition count above which [[fit]]'s per-round partial merge
    * runs as a 2-level `treeReduce` instead of a driver `collect`.
    * Override with `spark.graft.kmeans.treeReducePartitions`. */
  private def treeReducePartitions(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.kmeans.treeReducePartitions")
      .map(_.toInt).getOrElse(1024)

  /** Rows of `featuresCol` as primitive float arrays, in the caller's
    * partitioning — what the seeded init samples from. Read off the
    * internal rows: no external `Row`, no boxed floats. */
  private def rowsOf(df: DataFrame, featuresCol: String): RDD[Array[Float]] =
    df.select(col(featuresCol).cast("array<float>"))
      .queryExecution.toRdd
      .map(_.getArray(0).toFloatArray())

  /** Seeded distinct uniform sample as initial centroids — the analog of
    * the reference's positional line sample (Main.java:129-164) with the
    * determinism it lacks. */
  def initCentroids(
      df: DataFrame,
      featuresCol: String,
      k: Int,
      seed: Long): Array[Array[Float]] = {
    val rows = rowsOf(df, featuresCol)
      .takeSample(withReplacement = false, num = k, seed = seed)
    require(rows.length == k, s"dataset has fewer than k=$k rows")
    rows
  }

  /** Rows per packed chunk: 16k floats (64 KB), ~1k rows at dim 16. */
  private[kmeans] def chunkRows(dim: Int): Int = math.max(1, 16384 / dim)

  /** Packs `rows` into row-major n×dim float chunks of [[chunkRows]]
    * rows; a row of any other length fails loudly here. */
  private def packChunks(
      rows: Iterator[Array[Float]], dim: Int): Iterator[Array[Float]] =
    rows.grouped(chunkRows(dim)).map { g =>
      val out = new Array[Float](g.length * dim)
      var o = 0
      g.foreach { v =>
        require(v.length == dim, s"dim mismatch: ${v.length} vs $dim")
        System.arraycopy(v, 0, out, o, dim)
        o += dim
      }
      out
    }

  def fit(df: DataFrame, params: KMeansParams): KMeansModel =
    fit(df, params, shortcut = true)

  /** [[fit]]; with `shortcut` false every row of every round runs the
    * plain k-centroid scan — the reference the specs pin the hinted
    * fold against, bit for bit. */
  private[kmeans] def fit(
      df: DataFrame, params: KMeansParams, shortcut: Boolean): KMeansModel = {
    val spark = df.sparkSession
    val k = params.k
    var centroids = params.initCentroids
      .map { init =>
        require(init.length == k, "init centroid count != k")
        init.map(_.clone())
      }
      .getOrElse(initCentroids(df, params.featuresCol, k, params.seed))
    val dim = centroids(0).length
    require(centroids.forall(_.length == dim),
      "init centroids differ in dimension")

    // Parse and pack the rows ONCE into P balanced slices of chunks,
    // chunk (source partition s, chunk index c) landing in slice
    // (s + c) mod P; every round is then one narrow job over them.
    // Generation 0 pairs each chunk with no picks yet.
    val rows = rowsOf(df, params.featuresCol)
    val numSlices =
      math.max(rows.getNumPartitions, spark.sparkContext.defaultParallelism)
    var gen: RDD[(Array[Float], Array[Int])] = rows
      .mapPartitionsWithIndex { (s, it) =>
        packChunks(it, dim).zipWithIndex.map { case (ch, c) => ((s, c), ch) }
      }
      .repartitionAndSortWithinPartitions(new SlicePartitioner(numSlices))
      .map { case (_, ch) => (ch, null: Array[Int]) }
    try {
      val treeGate = treeReducePartitions(spark)
      val cells = k * dim

      // Exact merge of two partial tables (k×dim sums + k counts):
      // BigDecimal addition is exact and associative, so ANY merge
      // order/shape — the driver's sequential fold, treeReduce's
      // executor-side pre-merges — yields the same cells. Mutates and
      // returns `a` (inputs are task-fresh on every path).
      def merge(
          a: (Array[java.math.BigDecimal], Array[Long]),
          b: (Array[java.math.BigDecimal], Array[Long]))
          : (Array[java.math.BigDecimal], Array[Long]) = {
        var i = 0
        while (i < cells) { a._1(i) = a._1(i).add(b._1(i)); i += 1 }
        var c = 0
        while (c < k) { a._2(c) += b._2(c); c += 1 }
        a
      }

      var loop = 1
      var converged = false
      while (loop < params.maxLoop && !converged) {
        val flat = centroids.flatMap(_.map(_.toDouble))
        val bc = spark.sparkContext.broadcast(
          (flat, if (shortcut) halfGapRadii(flat, k) else null))
        // This round's generation: each chunk with its rows' picks,
        // guessed from the previous round's picks (the probe in round
        // 1) and verified by the half-gap test. Cached and locally
        // checkpointed, so the next round reads it without lineage.
        val next = gen.mapPartitions { it =>
          val (cents, radii) = bc.value
          val am = new GuessArgmin(cents, k, radii)
          it.map { case (ch, prev) => (ch, assignChunk(ch, dim, am, prev)) }
        }.localCheckpoint()
        val prev = gen
        gen = next
        // A2 — the combiner: each slice adds its chunks' rows into k
        // (sum, count) cells in chunk-key order, primitive doubles
        // (KCombiner.java:9-18 semantics), each cell lifted to an EXACT
        // BigDecimal at slice exit (`new BigDecimal(double)` represents
        // every finite double exactly) so the A3 merge is
        // order-independent.
        val partialsRdd = next.mapPartitions { it =>
          val sums = new Array[Double](cells)
          val cnts = new Array[Long](k)
          it.foreach { case (ch, picks) => addChunk(ch, dim, picks, sums, cnts) }
          Iterator.single((sums.map(new java.math.BigDecimal(_)), cnts))
        }

        // A3 — the reducer: exact merge, then one double conversion per
        // cell and the 5-dp rounded float mean (PointWritable
        // .calcAverage). Above the partition gate the merge runs as a
        // 2-level treeReduce (executors pre-merge; the driver receives
        // ONE table, not P) — bit-identical to the collect fold by the
        // exactness argument above, pinned by KMeansSpec. The previous
        // generation is released once this round's is checkpointed.
        val (exactSums, cnts) =
          try {
            if (numSlices > treeGate)
              partialsRdd.treeReduce(merge _, depth = 2)
            else {
              val zero = (Array.fill(cells)(java.math.BigDecimal.ZERO),
                new Array[Long](k))
              partialsRdd.collect().foldLeft(zero)(merge)
            }
          } finally prev.unpersist(blocking = false)
        // Empty cluster -> keep previous centroid (documented divergence).
        val nextCents = centroids.map(_.clone())
        var c = 0
        while (c < k) {
          if (cnts(c) > 0) {
            val s = Array.tabulate(dim)(i => exactSums(c * dim + i).doubleValue())
            nextCents(c) = meanRounded5(s, cnts(c))
          }
          c += 1
        }
        converged =
          centroids.zip(nextCents).forall { case (o, n) =>
            euclidean(o, n) <= params.threshold
          }
        centroids = nextCents
        bc.unpersist(blocking = false)
        loop += 1
      }
      KMeansModel(centroids, loop - 1, converged)
    } finally gen.unpersist()
  }
}

/** Routes packed chunk (source partition s, chunk index c) to slice
  * (s + c) mod P: one source's chunks deal round-robin over every
  * slice, starting at a different slice per source. */
private final class SlicePartitioner(slices: Int) extends Partitioner {
  override def numPartitions: Int = slices
  override def getPartition(key: Any): Int = {
    val (s, c) = key.asInstanceOf[(Int, Int)]
    (s + c) % slices
  }
}
