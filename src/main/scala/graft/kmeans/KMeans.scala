package graft.kmeans

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim
import org.apache.spark.unsafe.Platform

import graft.ExactMerge
import graft.functions.{CellTable, GuessArgmin}
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
    * once into a per-task scratch, the guess of the codebook's cell
    * table is kept when the half-gap test proves it, and
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
  *   - per-iteration MapReduce job  →  for a small input, ONE job whose
  *     single task runs every round; otherwise one narrow partial
  *     aggregation job per round over cached slices;
  *   - Hadoop's input splits  →  P slices of packed row-major float
  *     chunks, P = max(input partitions, default parallelism), chunk
  *     (source partition s, chunk index c) in slice (s + c) mod P;
  *   - centroids through Hadoop `Configuration`  →  the task closure
  *     (one task) or `sparkContext.broadcast` of one flat k×dim
  *     `double[]` (per round);
  *   - reducer-output file round-trip (Main.java:175-203)  →  an
  *     in-task merge, or a `collect()` of per-slice partials merged on
  *     the driver;
  *   - input re-read per job (Main.java:318 in-loop)  →  the packed
  *     chunks kept with each round's picks.
  *
  * The iteration body is the combiner/reducer split made explicit
  * (KCombiner.java:9-18 / KReducer.java:12-26): each slice picks every
  * row's nearest centroid and adds the row into k×(dim+1) partial
  * (sum, count) cells — A2 — and the partials are merged exactly and
  * turned into the rounded mean — A3. The declarative `groupBy` form of
  * the same aggregation remains the engine's single-step operator (q07)
  * where Catalyst's partial/final HashAggregate split is asserted by
  * PlanSpec.
  *
  * One-task fit (the first try on an input cached in memory): when the
  * input DataFrame's own plan is cached in memory and built, and holds
  * at most 2^23 packed floats (32 MB) by the cache's row count, its rows
  * are read through `coalesce(1)` — no shuffle — and packed into the
  * same slices in one task, which runs the whole loop and returns the
  * model: one job for the fit, no per-round broadcast, checkpoint or
  * collect. The task decides in round 1 only: it picks the first 16th
  * of the rows as they are read and tests them, projected over all
  * rows, and hands back when its own scans pass 4·3·2^23
  * centroid-coordinate products, or when the rows its picks leave
  * unproven (the next round's scans) pass 3·2^23 (about 25M) — where
  * P parallel slices pay for a job per round. A hand-back has read a
  * 16th of the input, and the driver runs the distributed loop from
  * the initial centroids. Otherwise the task runs every round with no
  * further test: a fit whose later rounds scan more than round 1
  * predicted stays in the one task, each round bounded by M·k products
  * (M the packed floats). Every round is the same pure function of the
  * centroids on both paths, so the result is the same bits. Any other
  * input (a file scan, a parse, a filter, a projection of a cached
  * table, a cache not yet built) goes straight to the distributed loop:
  * its plan would otherwise run serially in the one task.
  *
  * Distributed loop: one rebalancing shuffle moves chunk (s, c) to its
  * slice and sorts each slice by (s, c); each round is then one narrow
  * job over the cached slices that ships k×(dim+1)×P doubles to the
  * driver.
  *
  * Verified guesses: each round keeps every row's pick (one `Int` per
  * row) beside its chunk — in the task's memory, or in a cached,
  * locally checkpointed generation per round. The next round tries each
  * row's previous pick first and keeps it when Elkan's half-gap test
  * proves it ([[graft.functions.VectorFunctions.halfGapHit]]: one
  * distance instead of k, four rows at a time; a loop's first round
  * guesses from the codebook's cell table,
  * [[graft.functions.VectorFunctions.cellTable]]); a miss runs the
  * plain blocked scan
  * ([[graft.functions.VectorFunctions.argminSqDist]]). Every pick is
  * the scan's, and rows are added in the same order, so centroids are
  * bit-identical to a fit that always scans (KMeansSpec pins it). The
  * previous generation is released after each round's collect.
  *
  * Determinism: each slice folds its chunks in (s, c) order as a double
  * fold (the reference combiner's semantics per partition); then each
  * slice's cells are lifted to exact `BigDecimal`s for the merge. Exact
  * addition is associative, so the merged sum is independent of merge
  * ORDER and merge SHAPE — the one task's fold, the driver's sequential
  * fold and the `treeReduce` below are bit-identical by
  * construction (the PageRank DECIMAL device, applied to the k×(dim+1)
  * partial cells), and the result is bit-stable across runs (a parallel
  * `sum()` over raw doubles is not). Each merged cell is converted to
  * double exactly once before the 5-dp float mean.
  *
  * Parity-preserving semantics: f32 coordinates, mean computed in float
  * then rounded to 5 dp half-up at the final aggregate only
  * (`PointWritable.calcAverage`, PointWritable.java:106-112), argmin ties
  * to the lowest index (KMapper.java:39), convergence when every centroid
  * moved `<= threshold` (Main.java:205-220), at most `maxLoop - 1`
  * iterations. Divergence (documented, SURVEY §7.4.3): an empty cluster
  * keeps its previous centroid instead of NPE-ing the driver.
  *
  * At scale: above 1024 slices the partials merge in a 2-level
  * `treeReduce` ([[graft.ExactMerge]]), so the driver receives about
  * √P tables per round instead of P; the exact-cell merge makes it
  * bit-identical to the collect fold (KMeansSpec pins it).
  */
object KMeans {

  /** The internal rows of `featuresCol` cast to `array<float>`, in the
    * caller's partitioning: no external `Row`, no boxed floats. */
  private def featureRows(df: DataFrame, featuresCol: String): RDD[InternalRow] =
    df.select(col(featuresCol).cast("array<float>")).queryExecution.toRdd

  /** The feature array of one of [[featureRows]]; a null array or a
    * null element fails loudly. */
  private def featureArray(r: InternalRow, featuresCol: String): ArrayData = {
    require(!r.isNullAt(0), s"null feature array in column $featuresCol")
    val v = r.getArray(0)
    var i = 0
    while (i < v.numElements()) {
      require(!v.isNullAt(i), s"null feature element in column $featuresCol")
      i += 1
    }
    v
  }

  /** Seeded distinct uniform sample as initial centroids — the analog of
    * the reference's positional line sample (Main.java:129-164) with the
    * determinism it lacks. */
  def initCentroids(
      df: DataFrame,
      featuresCol: String,
      k: Int,
      seed: Long): Array[Array[Float]] = {
    val rows = featureRows(df, featuresCol)
      .map(featureArray(_, featuresCol).toFloatArray())
      .takeSample(withReplacement = false, num = k, seed = seed)
    require(rows.length == k, s"dataset has fewer than k=$k rows")
    rows
  }

  /** Rows per packed chunk: 16k floats (64 KB), ~1k rows at dim 16. */
  private[kmeans] def chunkRows(dim: Int): Int = math.max(1, 16384 / dim)

  /** Packs the feature arrays of `rows` into row-major n×dim float
    * chunks of [[chunkRows]] rows, copied straight off the internal
    * rows (one memory copy per unsafe array without nulls); a row of
    * any other length fails loudly here. */
  private def packChunks(
      rows: Iterator[InternalRow], dim: Int,
      featuresCol: String): Iterator[Array[Float]] = {
    val n = chunkRows(dim)
    Iterator.continually {
      val out = new Array[Float](n * dim)
      var o = 0
      while (o < out.length && rows.hasNext) {
        val r = rows.next()
        (if (r.isNullAt(0)) null else r.getArray(0)) match {
          case u: UnsafeArrayData if u.numElements() == dim && nullFreeValues(u) >= 0 =>
            Platform.copyMemory(u.getBaseObject, nullFreeValues(u),
              out, Platform.FLOAT_ARRAY_OFFSET + 4L * o, 4L * dim)
          case _ =>
            val v = featureArray(r, featuresCol)
            require(v.numElements() == dim, s"dim mismatch: ${v.numElements()} vs $dim")
            var i = 0
            while (i < dim) { out(o + i) = v.getFloat(i); i += 1 }
        }
        o += dim
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }.takeWhile(_.length > 0)
  }

  /** Packed input floats above which a fit skips the one-task fit:
    * 2^23 floats, 32 MB held by one task. */
  private[kmeans] val OneTaskFloats = 1L << 23

  /** Centroid-coordinate products above which round 1's projected
    * scans make the one-task fit hand back to the distributed loop: a
    * scan is a row the half-gap test did not prove, k × dim products.
    * Measured at P = 4: a round of ~19M scanned products still runs
    * faster in one task than as a distributed job, one of ~32M up to
    * 1.3× slower. */
  private[kmeans] val OneTaskProducts = 3L << 23

  /** How many times [[OneTaskProducts]] the one-task fit's first round
    * may scan before it hands back: its cell-table guesses miss more than
    * later rounds' previous picks do, so there only the scans its own
    * picks would cost the next round are held to the plain bound. */
  private val FirstRoundSlack = 4

  def fit(df: DataFrame, params: KMeansParams): KMeansModel =
    fit(df, params, shortcut = true)

  /** [[fit]]; with `shortcut` false every row of every round runs the
    * plain k-centroid scan — the reference the specs pin the hinted
    * fold against, bit for bit. The one-task fit runs only when `df`'s
    * own plan is cached in memory and built, with at most
    * `maxTaskFloats` packed floats by the cache's row count: any other
    * input would run its scan, parse or filter serially in the one
    * task. It hands back in round 1 once that round's projected scans
    * pass `maxRoundProducts` products. The distributed loop's partials
    * merge in a `treeReduce` above `treeAbove` slices. */
  private[kmeans] def fit(
      df: DataFrame, params: KMeansParams, shortcut: Boolean,
      maxTaskFloats: Long = OneTaskFloats,
      maxRoundProducts: Long = OneTaskProducts,
      treeAbove: Int = ExactMerge.TreeAbove): KMeansModel = {
    val spark = df.sparkSession
    val k = params.k
    val init = params.initCentroids
      .map { init =>
        require(init.length == k, "init centroid count != k")
        init.map(_.clone())
      }
      .getOrElse(initCentroids(df, params.featuresCol, k, params.seed))
    val dim = init(0).length
    require(init.forall(_.length == dim),
      "init centroids differ in dimension")
    if (params.maxLoop <= 1) return KMeansModel(init, 0, converged = false)

    // Rows packed into chunks inside their source partition, each keyed
    // by (source partition s, chunk index c); chunk (s, c) belongs to
    // slice (s + c) mod P on both paths.
    val featuresCol = params.featuresCol
    val rows = featureRows(df, featuresCol)
    val numSlices =
      math.max(rows.getNumPartitions, spark.sparkContext.defaultParallelism)
    val keyed = rows.mapPartitionsWithIndex { (s, it) =>
      packChunks(it, dim, featuresCol).zipWithIndex
        .map { case (ch, c) => ((s, c), ch) }
    }
    graftshim.cachedRowCount(df)
      .filter(n => maxTaskFloats > 0 && n * dim <= maxTaskFloats)
      .flatMap { n =>
        // an input of no partitions coalesces to none: its loop runs here
        keyed.coalesce(1).mapPartitions { it =>
          Iterator.single(oneTaskLoop(it, n, init, params, dim, numSlices,
            shortcut, maxRoundProducts))
        }.collect().headOption.getOrElse(oneTaskLoop(Iterator.empty, n,
          init, params, dim, numSlices, shortcut, maxRoundProducts))
      }
      .getOrElse(
        distributedLoop(spark, keyed, numSlices, init, params, dim, shortcut,
          treeAbove))
  }

  /** The Lloyd loop of both paths: from `init`, at most `maxLoop − 1`
    * rounds, each turning `round`'s merged cells for the current
    * centroids into the next centroids, until every centroid moves
    * `<= threshold`. */
  private def lloyd(init: Array[Array[Float]], params: KMeansParams)(
      round: Array[Array[Float]] => (Array[java.math.BigDecimal], Array[Long]))
      : KMeansModel = {
    var centroids = init
    var rounds = 0
    var converged = false
    while (rounds + 1 < params.maxLoop && !converged) {
      val (next, conv) = meanStep(centroids, round(centroids), params.threshold)
      centroids = next
      converged = conv
      rounds += 1
    }
    KMeansModel(centroids, rounds, converged)
  }

  /** The flat k×dim double codebook of `centroids` and, with the
    * shortcut on, its half-gap radii and its first-guess cell table. */
  private def codebook(centroids: Array[Array[Float]], shortcut: Boolean)
      : (Array[Double], Array[Double], CellTable) = {
    val k = centroids.length
    val flat = centroids.flatMap(_.map(_.toDouble))
    val radii = if (shortcut) halfGapRadii(flat, k) else null
    (flat, radii, cellTable(flat, k, radii))
  }

  /** The one-task fit: the whole Lloyd loop inside one task over the
    * chunks of every input partition, about `rowCount` rows. The chunks are
    * dealt into the distributed loop's slices — chunk (s, c) into slice
    * (s + c) mod P, each slice in (s, c) order, folded by [[foldSlice]]
    * and merged — and each row's pick stays in memory as the next
    * round's guess, so every round computes what a distributed round
    * computes, bit for bit.
    *
    * Round 1 decides, None to hand back. A pick depends on its row and
    * the centroids only, so it picks the first 16th of the rows as they
    * are read and tests them: projected over all rows, the rows whose
    * cell-table guess the half-gap test does not prove (its own scans) may
    * pass `maxProducts` centroid-coordinate products [[FirstRoundSlack]]
    * times, and the rows its picks leave unproven (the next round's
    * scans) may not pass it. Later rounds run with no test. */
  private def oneTaskLoop(
      chunks: Iterator[((Int, Int), Array[Float])], rowCount: Long,
      init: Array[Array[Float]], params: KMeansParams, dim: Int,
      numSlices: Int, shortcut: Boolean,
      maxProducts: Long): Option[KMeansModel] = {
    val k = params.k
    val (flat, radii, cells) = codebook(init, shortcut)
    val am = new GuessArgmin(flat, k, radii, cells)
    val x = new Array[Double](dim)
    var tested = 0L
    var scans = 0L
    var ahead = 0L
    val read = scala.collection.mutable.ArrayBuffer
      .empty[((Int, Int), Array[Float], Array[Int])]
    while (chunks.hasNext) {
      val (key, ch) = chunks.next()
      // a tested chunk's picks are its round-1 guesses; the rest use
      // the cell table's
      val p = if (tested * 16 >= rowCount) null else {
        val p = am.assignChunk(ch, null)
        scans += unprovenRows(ch, dim, flat, radii, cells, null, x)
        ahead += unprovenRows(ch, dim, flat, radii, cells, p, x)
        tested += p.length
        val perRow = rowCount.toDouble / tested * (k * dim)
        if (tested * 16 >= rowCount && (ahead * perRow > maxProducts ||
            scans * perRow > FirstRoundSlack.toDouble * maxProducts))
          return None
        p
      }
      read += ((key, ch, p))
    }
    // slice by slice, each in (s, c) order: the distributed fold order
    val slices = read.sortBy(_._1)
      .groupBy { case ((s, c), _, _) => (s + c) % numSlices }.values
      .map(sl => (sl.map(_._2).toArray, sl.map(_._3).toArray)).toArray
    Some(lloyd(init, params) { centroids =>
      val (flat, radii, cells) = codebook(centroids, shortcut)
      val am = new GuessArgmin(flat, k, radii, cells)
      slices.foldLeft(zeroCells(k, dim)) { case (total, (data, picks)) =>
        // each chunk picked and added back to back, in (s, c) order
        merge(total, foldSlice(data.indices.iterator.map { j =>
          picks(j) = am.assignChunk(data(j), picks(j))
          (data(j), picks(j))
        }, k, dim))
      }
    })
  }

  /** Rows of one packed chunk whose guess — `guesses(r)`, or the
    * `cells` guess when `guesses` is null (the scan's pick when `cells`
    * is null too, at dim 1) — the half-gap test does not prove: the
    * rows a [[GuessArgmin]] trying those guesses scans. Every row when
    * `radii` is null. `x` is a dim-long scratch. */
  private def unprovenRows(
      rows: Array[Float], dim: Int, cents: Array[Double],
      radii: Array[Double], cells: CellTable, guesses: Array[Int],
      x: Array[Double]): Int = {
    val n = rows.length / dim
    if (radii == null) return n
    val k = cents.length / dim
    var u = 0
    var r = 0
    while (r < n) {
      val o = r * dim
      var i = 0
      while (i < dim) { x(i) = rows(o + i); i += 1 }
      val g =
        if (guesses != null) guesses(r)
        else if (cells != null) cells.guess(x)
        else argminSqDist(x, cents, k)
      if (!halfGapHit(x, cents, radii, g)) u += 1
      r += 1
    }
    u
  }

  /** A2 — the combiner: one slice's chunks added, in chunk-key order,
    * into fresh k×dim (sum, count) cells of primitive doubles
    * (KCombiner.java:9-18 semantics), lifted at slice exit to EXACT
    * `BigDecimal`s (`new BigDecimal(double)` represents every finite
    * double exactly), so the merge is order-independent. */
  private def foldSlice(
      chunks: Iterator[(Array[Float], Array[Int])], k: Int, dim: Int)
      : (Array[java.math.BigDecimal], Array[Long]) = {
    val sums = new Array[Double](k * dim)
    val cnts = new Array[Long](k)
    chunks.foreach { case (ch, picks) => addChunk(ch, dim, picks, sums, cnts) }
    (sums.map(new java.math.BigDecimal(_)), cnts)
  }

  /** k×dim zero sums and k zero counts: the identity of [[merge]]. */
  private def zeroCells(k: Int, dim: Int)
      : (Array[java.math.BigDecimal], Array[Long]) =
    (Array.fill(k * dim)(java.math.BigDecimal.ZERO), new Array[Long](k))

  /** Exact merge of two partial tables (k×dim sums + k counts):
    * BigDecimal addition is exact and associative, so ANY merge
    * order/shape — the driver's sequential fold, treeReduce's
    * executor-side pre-merges, the one-task fold — yields the same
    * cells. Mutates and returns `a` (inputs are task-fresh on every
    * path). */
  private def merge(
      a: (Array[java.math.BigDecimal], Array[Long]),
      b: (Array[java.math.BigDecimal], Array[Long]))
      : (Array[java.math.BigDecimal], Array[Long]) = {
    var i = 0
    while (i < a._1.length) { a._1(i) = a._1(i).add(b._1(i)); i += 1 }
    var c = 0
    while (c < a._2.length) { a._2(c) += b._2(c); c += 1 }
    a
  }

  /** A3 — the reducer: one double conversion per merged cell and the
    * 5-dp rounded float mean (PointWritable.calcAverage); an empty
    * cluster keeps its previous centroid (documented divergence). Also
    * returns whether every centroid moved `<= threshold`. */
  private def meanStep(
      centroids: Array[Array[Float]],
      merged: (Array[java.math.BigDecimal], Array[Long]),
      threshold: Double): (Array[Array[Float]], Boolean) = {
    val (exactSums, cnts) = merged
    val dim = centroids(0).length
    val next = centroids.map(_.clone())
    var c = 0
    while (c < next.length) {
      if (cnts(c) > 0) {
        val s = Array.tabulate(dim)(i => exactSums(c * dim + i).doubleValue())
        next(c) = meanRounded5(s, cnts(c))
      }
      c += 1
    }
    val converged = centroids.zip(next).forall { case (o, n) =>
      euclidean(o, n) <= threshold
    }
    (next, converged)
  }

  /** The distributed Lloyd loop from `init`: the keyed chunks moved
    * once into their slices, then one narrow job per round. */
  private def distributedLoop(
      spark: SparkSession, keyed: RDD[((Int, Int), Array[Float])],
      numSlices: Int, init: Array[Array[Float]], params: KMeansParams,
      dim: Int, shortcut: Boolean, treeAbove: Int): KMeansModel = {
    val k = params.k
    // Generation 0 pairs each chunk with no picks yet; the rebalancing
    // shuffle sorts each slice by (s, c).
    var gen: RDD[(Array[Float], Array[Int])] = keyed
      .repartitionAndSortWithinPartitions(new SlicePartitioner(numSlices))
      .map { case (_, ch) => (ch, null: Array[Int]) }
    // Each round's codebook broadcast is destroyed one round late:
    // destroyed, because `unpersist` keeps the driver's copy (in local
    // mode the only one); late, because the next round's tasks still
    // serialize this round's generation, whose closure holds it (a
    // checkpoint drops an RDD's parent, not its closure).
    var lastBc: org.apache.spark.broadcast.Broadcast[_] = null
    def destroyLastBc(): Unit = if (lastBc != null) graftshim.destroyBlocking(lastBc)
    try lloyd(init, params) { centroids =>
      val bc = spark.sparkContext.broadcast(codebook(centroids, shortcut))
      try {
        // This round's generation: each chunk with its rows' picks,
        // guessed from the previous round's picks (the cell table in the
        // loop's first round) and verified by the half-gap test. Cached
        // and locally checkpointed, so the next round reads it without
        // lineage.
        val next = gen.mapPartitions { it =>
          val (cents, radii, cells) = bc.value
          val am = new GuessArgmin(cents, k, radii, cells)
          it.map { case (ch, prev) => (ch, am.assignChunk(ch, prev)) }
        }.localCheckpoint()
        val prev = gen
        gen = next
        // The previous generation is released once this round's is
        // checkpointed.
        try ExactMerge.merge(
          next.mapPartitions(it => Iterator.single(foldSlice(it, k, dim))),
          treeAbove)(_.foldLeft(zeroCells(k, dim))(merge))
        finally prev.unpersist(blocking = false)
      } finally { destroyLastBc(); lastBc = bc }
    } finally { gen.unpersist(); destroyLastBc() }
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
