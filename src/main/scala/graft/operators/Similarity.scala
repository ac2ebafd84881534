package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Two tiers:
  *   - [[bruteForceTopK]]: exact top-k by cosine/dot — one narrow map +
  *     a k-row `orderBy ... limit` (Spark plans TakeOrderedAndProject:
  *     per-partition heaps, no full sort). Baseline and test oracle.
  *   - [[lshTopK]]: random-hyperplane LSH bucketing — candidates are
  *     generated per bucket, so at 100 TB the crossJoin degenerates from
  *     n×n to Σ bucket². The hyperplanes are derived deterministically
  *     from a seed via a splitmix64-style hash (no RNG state to ship).
  */
object Similarity {

  /** Dot product of an embedding column against a fixed query vector,
    * kept inside codegen (zip_with/aggregate — no UDF). */
  def dotWithQuery(emb: Column, query: Array[Float]): Column = {
    val q = array(query.map(v => lit(v)): _*)
    dotCol(emb, q)
  }

  def cosineWithQuery(emb: Column, query: Array[Float]): Column = {
    val q = array(query.map(v => lit(v)): _*)
    cosineCol(emb, q)
  }

  /** Exact top-k rows by dot product with `query`.
    * Plans as scan → project → TakeOrderedAndProject (no shuffle of the
    * full data; each partition keeps a k-heap). */
  def bruteForceTopK(
      df: DataFrame,
      query: Array[Float],
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    df.select(col(idCol), dotWithQuery(col(embCol), query).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)

  // ----------------------------------------------------------- LSH tier

  /** Deterministic pseudo-random hyperplane component for (seed, plane,
    * dim-index) — splitmix64 finalizer, mapped to [-1, 1). */
  private def planeComponent(seed: Long, plane: Int, i: Int): Float = {
    var z = seed + 0x9e3779b97f4a7c15L * ((plane.toLong << 32) | (i.toLong & 0xffffffffL))
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    ((z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
  }

  def hyperplanes(seed: Long, nPlanes: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(nPlanes)(p => Array.tabulate(dim)(i => planeComponent(seed, p, i)))

  /** Seeded Rademacher (±1) sign matrix — the random-projection
    * coefficients. ±1 instead of Gaussian keeps every product an exact
    * sign flip (no rounding), so the projection is bit-reproducible in
    * any IEEE engine and SQL-expressible for the oracle. */
  def rademacherSigns(seed: Long, outDim: Int, dim: Int): Array[Array[Float]] =
    hyperplanes(seed, outDim, dim)
      .map(_.map(v => if (v >= 0f) 1.0f else -1.0f))

  /** Johnson–Lindenstrauss random projection: map each `dim`-wide
    * embedding to `outDim` coordinates, the p-th being
    * Σⱼ sign(seed,p,j)·xⱼ — the cheap dimensionality-reduction step in
    * front of ANN / clustering at scale (pairwise distances preserved
    * within (1±ε) w.h.p. for outDim = O(log n / ε²); Achlioptas 2001
    * shows ±1 entries suffice).
    *
    * Scale shape: a pure MAP — the sign matrix is outDim×dim literals
    * baked into codegen'd [[graft.functions.VectorExpressions VecDot]]
    * folds (no shuffle, no UDF, no driver state); output is
    * outDim doubles per row, so the operator SHRINKS the data by
    * ~dim/outDim and everything downstream of it gets cheaper.
    *
    * Determinism: each product is an exact sign flip of a float
    * (widened to double), accumulated left-to-right in f64 — the same
    * fixed association the oracle's ordered list fold replays.
    */
  def randomProjection(
      df: DataFrame,
      idCol: String,
      embCol: String,
      outDim: Int,
      dim: Int,
      seed: Long): DataFrame = {
    require(outDim > 0 && dim > 0, s"dims must be positive: $outDim, $dim")
    val signs = rademacherSigns(seed, outDim, dim)
    df.select(col(idCol),
      array(signs.map(s => dotWithQuery(col(embCol), s)): _*).as("proj"))
      .orderBy(idCol)
  }

  /** Sign-bucket id: one bit per hyperplane (random-hyperplane LSH for
    * cosine similarity). Pure column expression. */
  def lshBucket(emb: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex
      .map { case (p, i) =>
        when(dotWithQuery(emb, p) >= 0.0, lit(1L << i)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  /** ANN top-k: hash the query, scan only rows in the same bucket, exact
    * re-rank inside. `nPlanes` trades recall vs bucket size (bucket
    * population ≈ n / 2^nPlanes). */
  def lshTopK(
      df: DataFrame,
      query: Array[Float],
      k: Int,
      seed: Long = 42L,
      nPlanes: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val dim = query.length
    val planes = hyperplanes(seed, nPlanes, dim)
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      if (dot(p, query) >= 0.0) 1L << i else 0L
    }.sum
    df.where(lshBucket(col(embCol), planes) === qBucket)
      .select(col(idCol), dotWithQuery(col(embCol), query).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------ LSH pair tier

  /** Banded LSH near-duplicate pairs — the sub-quadratic scale path for
    * embedding near-dup (the brute [[bruteForcePairs]] is O(n²)):
    *
    *   1. `nBands` independent sign-bucketings of `planesPerBand`
    *      hyperplanes each — a narrow codegen'd projection;
    *   2. explode to (band, bucket) and self-join on it: candidate pairs
    *      come from Σ bucket² within bands, not n²;
    *   3. exact cosine verify of the distinct candidates — precision is
    *      exact; recall = 1−(1−p^planes)^bands for p = 1−θ/π, ≈ 1 for
    *      true near-dups (θ → 0) and tunable via bands/planes.
    *
    * Candidates carry only 8-byte ids through the join; embeddings are
    * re-attached for the verify step. */
  def lshNearDupPairs(
      df: DataFrame,
      threshold: Double,
      nBands: Int = 4,
      planesPerBand: Int = 8,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(planesPerBand <= 32 && nBands <= 128,
      "band key packs (band, bucket) into one long: need nBands <= 128 " +
        s"(got $nBands) and planesPerBand <= 32 (got $planesPerBand)")
    val dim = df.select(size(col(embCol))).head().getInt(0)
    // band id folded into the bucket key's high bits: ONE flat 64-bit
    // join key instead of a struct — struct keys force a slower
    // non-codegen comparator through the exchange and join (same trick
    // as Dedup.simhashPairs, measured there)
    val bandCols = (0 until nBands).map { b =>
      val planes = hyperplanes(seed + 0x9e3779b97f4a7c15L * b, planesPerBand, dim)
      lshBucket(col(embCol), planes).bitwiseOR(lit(b.toLong << 33))
    }
    // both self-join sides read the SAME banded projection and both
    // verify joins read the SAME norm frame — persist each once
    // (CachePool generation-tracked; the next call or releaseAll frees
    // them, an evicted cache recomputes from lineage): the hyperplane
    // bucket kernel is nBands·planes·dim multiplies per row, the most
    // expensive per-row work in this plan, and un-cached it ran twice
    val banded = graft.CachePool.swap("sim.lsh.banded", df
      .select(col(idCol).as("id"), explode(array(bandCols: _*)).as("bk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cand = banded.select(col("bk").as("bk_l"), col("id").as("id_a"))
      .join(banded.select(col("bk").as("bk_r"), col("id").as("id_b")),
        col("bk_l") === col("bk_r") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val withNorm = graft.CachePool.swap("sim.lsh.norm", df
      .select(col(idCol).as("id"), col(embCol).as("emb"),
        normCol(col(embCol)).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    cand
      .join(withNorm.toDF("id_a", "emb_a", "nrm_a"), "id_a")
      .join(withNorm.toDF("id_b", "emb_b", "nrm_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        when(col("nrm_a") === 0.0 || col("nrm_b") === 0.0, lit(0.0))
          .otherwise(dotCol(col("emb_a"), col("emb_b")) /
            (col("nrm_a") * col("nrm_b"))).as("cos"))
      .where(col("cos") > threshold)
  }

  // ----------------------------------------------------------- IVF tier

  /** A built IVF index: the fitted coarse quantizer plus the persisted
    * cell assignment. Build once, probe many times — the assignment scan
    * is cached (in a real deployment it is written out bucketed by
    * `cell`, giving probes partition pruning instead of a filter). */
  final case class IvfIndex(
      centroids: Array[Array[Float]],
      assigned: DataFrame,
      idCol: String,
      embCol: String) {

    /** Search the `nprobe` cells nearest the query; exact re-rank inside. */
    def probe(query: Array[Float], k: Int, nprobe: Int): DataFrame = {
      val probed = centroids.zipWithIndex
        .sortBy { case (c, i) => (sqdist(query, c), i) }
        .take(nprobe).map(_._2)
      assigned
        .where(col("cell").isin(probed.map(Integer.valueOf): _*))
        .select(col(idCol), dotWithQuery(col(embCol), query).as("score"))
        .orderBy(desc("score"), col(idCol))
        .limit(k)
    }

    def unpersist(): Unit = { assigned.unpersist(); () }
  }

  /** Build the IVF index: fit the coarse quantizer with the engine's own
    * K-Means (SURVEY §3.1 closing the loop), assign every row to its
    * cell via the native-loop argmin (`assignCol`), and persist the result.
    * Deterministic given `initCentroids` or the seeded sampler. */
  def buildIvfIndex(
      df: DataFrame,
      nlist: Int = 16,
      quantizerIters: Int = 6,
      initCentroids: Option[Array[Array[Float]]] = None,
      idCol: String = "vec_id",
      embCol: String = "embedding"): IvfIndex = {
    import graft.kmeans.{KMeans, KMeansParams}
    val model = KMeans.fit(
      df.select(col(embCol).as("features")),
      KMeansParams(k = nlist, threshold = 1e-4, maxLoop = quantizerIters + 1,
        initCentroids = initCentroids))
    val assigned = df
      .select(col(idCol), col(embCol))
      .withColumn("cell", assignCol(col(embCol), model.centroids))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfIndex(model.centroids, assigned, idCol, embCol)
  }

  /** Persist an IVF index to disk — **versioned + segmented** (the
    * last artifact off in-place append; every other persisted index
    * already publishes through [[graft.sources.Artifacts]]).
    *
    * Layout marries the versioned-pointer device to immutable data
    * segments so probe-during-append safety does NOT cost a corpus
    * rewrite per append (the property that kept IVF on in-place
    * append until now):
    *
    *   base/segments/seg-1/assigned/cell=…   immutable once written
    *   base/segments/seg-2/assigned/cell=…   (one per build/append)
    *   base/v1/centroids                     k-row quantizer
    *   base/v1/manifest                      (ord, segment) rows
    *   base/v1/_PUBLISHED, base/_latest      Artifacts device
    *
    * A version is a tiny manifest naming the segments that constitute
    * the index; appends write ONE new segment (∝ batch, never the
    * corpus) and publish a manifest that lists one more name. A probe
    * resolves ONE complete version and reads only segments that
    * manifest names — a concurrent append cannot expose a partial
    * batch (the read-gap the in-place `mode("append")` had). Each
    * segment's assignment table is parquet **partitioned by cell**,
    * so probes prune to the probed cells' files in every segment
    * (nprobe/nlist of the corpus read per query at 100 TB).
    * Unreferenced segments (crashed publishes, rebuilt indexes,
    * GC'd versions) are deleted after the pointer moves — same
    * `keepVersions − 1`-publish-wide read window as the base device. */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    val seg = nextIvfSegment(spark, path)
    index.assigned
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/segments/$seg/assigned")
    publishIvfVersion(spark, path, index.centroids, Seq(seg))
  }

  /** Incremental maintenance: append a batch to a persisted IVF index
    * WITHOUT re-fitting the coarse quantizer — the q87 delta-probe
    * precedent applied to ANN. New rows are assigned to cells with the
    * index's existing centroids (the same native-loop argmin the build
    * used) and written as a NEW immutable segment; the next
    * version's manifest lists it alongside the existing ones. Existing
    * files are never rewritten, append cost is ∝ batch, and probes
    * (old version during the append, new after) always see a complete
    * segment set. Equal `assignCol` inputs give equal cells, so
    * append-then-probe ≡ assign-union-then-probe for unchanged
    * centroids (IvfSpec proves it). Single-writer, same as every
    * Artifacts adopter: concurrent appends must be serialized.
    *
    * Re-fit policy (runbook): appends skew cell sizes as the data
    * distribution drifts — re-fit the quantizer and rebuild (a fresh
    * [[writeIvfIndex]] publishes a 1-segment manifest and the old
    * segments age out) when the largest cell outgrows its build-time
    * share by ~4× or probe latency SLOs slip. */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    rejectLegacyIvfLayout(spark, path)
    val cur = graft.sources.Artifacts.latestDir(spark, path)
    val cents = readIvfCentroids(spark, cur)
    require(cents.nonEmpty, s"$cur/centroids is empty — not an IVF index")
    val dim = cents(0).length
    val mismatched = batch
      .select(size(col(embCol)).as("d")).where(col("d") =!= dim).limit(1)
    require(mismatched.isEmpty,
      s"batch embedding dimension != index dimension $dim")
    val seg = nextIvfSegment(spark, path)
    batch
      .select(col(idCol), col(embCol))
      .withColumn("cell", assignCol(col(embCol), cents))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/segments/$seg/assigned")
    publishIvfVersion(spark, path, cents, readIvfManifest(spark, cur) :+ seg)
  }

  /** Re-open a persisted IVF index: resolve ONE published version and
    * union its manifest's segments. Probes on the result prune to the
    * probed cell partitions in every segment scan (the `cell` filter
    * pushes through the union — assert-able via PartitionFilters). */
  def readIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): IvfIndex = {
    rejectLegacyIvfLayout(spark, path)
    val vdir = graft.sources.Artifacts.latestDir(spark, path)
    val assigned = readIvfManifest(spark, vdir)
      .map(seg => spark.read.parquet(s"$path/segments/$seg/assigned"))
      .reduce(_ unionByName _)
    IvfIndex(readIvfCentroids(spark, vdir), assigned, idCol, embCol)
  }

  private def readIvfCentroids(
      spark: org.apache.spark.sql.SparkSession,
      vdir: String): Array[Array[Float]] =
    spark.read.parquet(s"$vdir/centroids")
      .select("cluster", "centroid")
      .orderBy("cluster")
      .collect()
      .map(_.getSeq[Float](1).toArray)

  /** The pre-versioned IVF layout ({path/assigned, path/centroids},
    * no v* pointer) predates the segment+manifest format and has no
    * read path — fail with a migration message instead of letting
    * [[graft.sources.Artifacts.latestDir]] report a generic
    * "no published artifact" on what IS an (old-format) index. */
  private def rejectLegacyIvfLayout(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val h = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = h.exists(new org.apache.hadoop.fs.Path(s"$path/centroids"))
    val versioned =
      graft.sources.Artifacts.latestVersion(spark, path).nonEmpty
    if (legacy && !versioned) throw new IllegalArgumentException(
      s"$path holds a pre-versioned IVF layout ({assigned, centroids} " +
        "with no version pointer) — rebuild required: re-run " +
        "writeIvfIndex over the source embeddings (or republish the " +
        "existing assigned table as segment 1 of a v1 manifest) to " +
        "migrate to the versioned segment+manifest format")
  }

  /** Segment names in manifest order (ascending `ord`). */
  private def readIvfManifest(
      spark: org.apache.spark.sql.SparkSession,
      vdir: String): Seq[String] =
    spark.read.parquet(s"$vdir/manifest")
      .orderBy("ord")
      .collect()
      .map(_.getAs[String]("segment")).toSeq

  /** Next monotonic immutable-segment name (`seg-K`). Single-writer
    * contract (the Artifacts device's) covers the scan-then-pick. */
  private def nextIvfSegment(
      spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val h = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segBase = new org.apache.hadoop.fs.Path(s"$path/segments")
    val next =
      if (!h.exists(segBase)) 1
      else h.listStatus(segBase).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .flatMap(n => if (n.startsWith("seg-"))
          n.stripPrefix("seg-").toIntOption else None)
        .foldLeft(0)(math.max) + 1
    s"seg-$next"
  }

  /** Publish (centroids, manifest) as the next version, then delete
    * segments no LIVE version references (crashed-publish orphans,
    * rebuilt-over segments, segments only GC'd versions named). */
  private def publishIvfVersion(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      centroids: Array[Array[Float]],
      segments: Seq[String]): Unit = {
    import spark.implicits._
    graft.sources.Artifacts.publishVersion(spark, path) { vdir =>
      centroids.zipWithIndex
        .map { case (c, i) => (i, c) }.toSeq
        .toDF("cluster", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/centroids")
      segments.zipWithIndex
        .map { case (s, i) => (i, s) }
        .toDF("ord", "segment")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/manifest")
    }
    val live = graft.sources.Artifacts.publishedVersions(spark, path)
      .flatMap(v => readIvfManifest(spark, s"$path/v$v")).toSet
    val h = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segBase = new org.apache.hadoop.fs.Path(s"$path/segments")
    if (h.exists(segBase)) h.listStatus(segBase).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => !live.contains(p.getName))
      .foreach(p => h.delete(p, true))
  }

  /** One-shot IVF ANN (build + single probe). For repeated queries,
    * [[buildIvfIndex]] once and [[IvfIndex.probe]] per query — the
    * quantizer fit and assignment are NOT re-run per probe. */
  def ivfTopK(
      df: DataFrame,
      query: Array[Float],
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      quantizerIters: Int = 6,
      initCentroids: Option[Array[Array[Float]]] = None,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val index = buildIvfIndex(df, nlist, quantizerIters, initCentroids,
      idCol, embCol)
    index.probe(query, k, nprobe)
  }

  /** Per-cluster farthest members — embedding-space outlier candidates
    * for curation review (mislabeled points, corrupt vectors, novel
    * content surface as far-from-centroid rows).
    *
    * The distance is the assigned centroid's (= the minimum over
    * centroids, one codegen'd `least` over `VecSqDist`), rounded to
    * 9 dp for the cross-engine device. The per-cluster top-n runs on
    * the bounded [[TopK]] aggregator over the NEGATED distance —
    * map-side partials cap the exchange at partitions·n rows per
    * cluster, where the window-rank form ships and sorts every row of
    * the corpus. Ties break on the id in both engines.
    */
  def clusterOutliers(
      df: DataFrame,
      centroids: Array[Array[Float]],
      topPerCluster: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(topPerCluster > 0,
      s"topPerCluster must be positive, got $topPerCluster")
    val ds = centroids.map(c => sqdistCol(col(embCol), vecLit(c)))
    val minSq = if (ds.length == 1) ds(0) else least(ds: _*)
    df.select(col(idCol).as("id"),
        assignCol(col(embCol), centroids).as("cluster"),
        round(sqrt(minSq), 9).as("dist"))
      .groupBy("cluster")
      .agg(TopK.smallestK(topPerCluster)(-col("dist"), col("id")).as("o"))
      .select(col("cluster"), posexplode(col("o")))
      .select(col("cluster"), col("col.id").as(idCol),
        (-col("col.ord")).as("dist"))
      .orderBy(col("cluster"), desc("dist"), col(idCol))
  }

  /** Cluster-bounded batch ANN JOIN — "k nearest neighbors for EVERY
    * row" (the related-docs / link-candidates batch job), bounded at
    * cluster granularity like [[graft.operators.Dedup.semDedup]]:
    * assign every vector to its coarse centroid (codegen'd argmin
    * chain), self-join WITHIN clusters only (Σ cluster² candidate
    * pairs instead of n², an ordinary shuffled equi-join on the
    * cluster id), and keep each row's k nearest by exact squared
    * distance on the bounded [[TopK]] aggregator — map-side partial
    * top-k, so the exchange carries ≤ partitions·k rows per query
    * where a window-rank form would ship and sort every candidate
    * pair. Neighbors outside the query's cluster are not candidates —
    * the standard nprobe=1 recall trade, tunable by centroid count
    * (at corpus scale fit the quantizer with the engine's KMeans; for
    * higher recall probe adjacent cells, the q40 IVF device).
    *
    * Deterministic: exact double distances, (dist, id) tiebreak.
    * Returns (query_id, nb_rank, neighbor_id, dist) ordered by
    * (query_id, nb_rank). */
  def clusterKnnJoin(
      df: DataFrame,
      centroids: Array[Array[Float]],
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(k > 0, s"k must be positive, got $k")
    val assigned = df.select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("cluster", assignCol(col("emb"), centroids))
    val a = assigned.select(col("cluster"), col("id").as("query_id"),
      col("emb").as("qe"))
    val b = assigned.select(col("cluster"), col("id").as("neighbor_id"),
      col("emb").as("ce"))
    a.join(b.hint("shuffle_hash"), "cluster")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqdistCol(col("ce"), col("qe")).as("dist"))
      .groupBy(col("query_id"))
      .agg(TopK.smallestK(k)(col("dist"), col("neighbor_id")).as("nb"))
      .select(col("query_id"), posexplode(col("nb")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("nb_rank"),
        col("col.id").as("neighbor_id"), col("col.ord").as("dist"))
      .orderBy("query_id", "nb_rank")
  }

  /** All-pairs exact cosine similarity above a threshold, for a bounded
    * id range (test/oracle path; the LSH variant is the scale path).
    *
    * Norms are projected per ROW before the join (computed n times, not
    * n² times), the streamed side is repartitioned so the broadcast
    * nested-loop parallelizes across all cores, and only the dot product
    * runs per pair. */
  def bruteForcePairs(
      df: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    val withNorm = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      normCol(col(embCol)).as("nrm"))
    val a = withNorm
      .toDF("id_a", "emb_a", "nrm_a")
      .repartition(spark.sparkContext.defaultParallelism)
    val b = broadcast(withNorm.toDF("id_b", "emb_b", "nrm_b"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("nrm_a") === 0.0 || col("nrm_b") === 0.0, lit(0.0))
          .otherwise(dotCol(col("emb_a"), col("emb_b")) /
            (col("nrm_a") * col("nrm_b"))).as("cos"))
      .where(col("cos") > threshold)
  }
}
