package graft.kmeans

import org.apache.spark.sql.functions._
import graft.{ExactMerge, SparkSpec}
import graft.functions.VectorFunctions._

class KMeansSpec extends SparkSpec {

  private def toDF(points: Seq[Array[Float]]) = {
    import spark.implicits._
    points.map(p => Tuple1(p)).toDF("features")
  }

  test("hand-computed 4-point k=2 converges to the two pair means") {
    // clusters {(0,0),(0,2)} and {(10,0),(10,2)} -> centroids (0,1),(10,1)
    val pts = Seq(Array(0f, 0f), Array(0f, 2f), Array(10f, 0f), Array(10f, 2f))
    val model = KMeans.fit(toDF(pts),
      KMeansParams(k = 2, threshold = 1e-4, maxLoop = 20,
        initCentroids = Some(Array(Array(0f, 0f), Array(10f, 2f)))))
    assert(model.converged)
    assert(model.centroids(0).toSeq === Seq(0f, 1f))
    assert(model.centroids(1).toSeq === Seq(10f, 1f))
  }

  test("maxLoop off-by-one: maxLoop=1 runs 0 iterations (Main.java:303-305)") {
    val pts = Seq(Array(0f), Array(10f))
    val init = Array(Array(1f), Array(9f))
    val model = KMeans.fit(toDF(pts),
      KMeansParams(k = 2, threshold = 0.0, maxLoop = 1,
        initCentroids = Some(init)))
    assert(model.iterations === 0)
    assert(model.centroids(0).toSeq === Seq(1f)) // unchanged
  }

  test("maxLoop=M runs at most M-1 iterations") {
    val pts = Seq(Array(0f), Array(1f), Array(10f), Array(11f))
    val model = KMeans.fit(toDF(pts),
      KMeansParams(k = 2, threshold = -1.0, maxLoop = 5, // thresh<0: never converges
        initCentroids = Some(Array(Array(0f), Array(11f)))))
    assert(model.iterations === 4)
    assert(!model.converged)
  }

  test("empty cluster keeps its previous centroid (documented divergence)") {
    val pts = Seq(Array(0f), Array(1f))
    // centroid 2 at 100 gets no points
    val model = KMeans.fit(toDF(pts),
      KMeansParams(k = 3, threshold = 1e-4, maxLoop = 3,
        initCentroids = Some(Array(Array(0f), Array(1f), Array(100f)))))
    assert(model.centroids(2).toSeq === Seq(100f))
  }

  test("convergence boundary: movement == threshold stops (<=, Main.java:213)") {
    // init (0), data mean (1) -> movement exactly 1.0 == threshold -> stop
    val pts = Seq(Array(1f))
    val model = KMeans.fit(toDF(pts),
      KMeansParams(k = 1, threshold = 1.0, maxLoop = 10,
        initCentroids = Some(Array(Array(0f)))))
    assert(model.converged)
    assert(model.iterations === 1)
  }

  test("centroid means are rounded to 5 dp (PointWritable.calcAverage)") {
    val pts = Seq(Array(0.111111f), Array(0.222222f)) // mean 0.1666665
    val model = KMeans.fit(toDF(pts),
      KMeansParams(k = 1, threshold = 10.0, maxLoop = 2,
        initCentroids = Some(Array(Array(0f)))))
    val c = model.centroids(0)(0)
    assert(c === 0.16667f || c === 0.16666f) // 5-dp quantized either side of half
    assert(math.abs(c - 0.1666665f) < 1e-5)
    assert((c * 100000f).round / 100000f === c)
  }

  test("Lloyd invariant: within-cluster SSE never increases across iterations") {
    val rnd = new scala.util.Random(3)
    val pts = Seq.fill(200)(Array.fill(4)(rnd.nextFloat()))
    val df = toDF(pts).cache()
    val init = Array(pts(0).clone(), pts(50).clone(), pts(100).clone())
    def sse(cents: Array[Array[Float]]): Double =
      pts.map(p => sqdist(p, cents(argminCentroid(p, cents)))).sum
    var prev = sse(init)
    var cents = init
    (1 to 5).foreach { _ =>
      val m = KMeans.fit(df, KMeansParams(k = 3, threshold = -1.0, maxLoop = 2,
        initCentroids = Some(cents)))
      cents = m.centroids
      val s = sse(cents)
      assert(s <= prev + 1e-6, "SSE increased")
      prev = s
    }
    df.unpersist()
  }

  test("transform labels every point with its nearest centroid") {
    val pts = Seq(Array(0f, 0f), Array(9f, 9f), Array(1f, 1f))
    val cents = Array(Array(0f, 0f), Array(10f, 10f))
    val labeled = KMeansModel(cents, 0, converged = true)
      .transform(toDF(pts))
      .select("cluster").collect().map(_.getInt(0)).toSeq
    assert(labeled === Seq(0, 1, 0))
  }

  test("VectorMeanAggregator agrees with the declarative groupBy path") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(100)((rnd.nextInt(3), Array.fill(5)(rnd.nextFloat())))
    val agg = new VectorMeanAggregator(5).toColumn
    val typed = pts.toDS()
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg)
      .collect().toMap
    // oracle: plain Scala
    pts.groupBy(_._1).foreach { case (k, rows) =>
      val sums = new Array[Double](5)
      rows.foreach(r => addInto(sums, r._2))
      val expect = meanRounded5(sums, rows.size)
      assert(typed(k).toSeq === expect.toSeq, s"cluster $k")
    }
  }

  test("fit on driver testdata embeddings produces k valid centroids") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").as("features"))
    val model = KMeans.fit(emb, KMeansParams(k = 4, threshold = 1e-3,
      maxLoop = 10, seed = 42L))
    assert(model.centroids.length === 4)
    assert(model.centroids.forall(_.length === model.centroids(0).length))
    assert(model.iterations >= 1)
  }

  test("treeReduce partial merge is bit-identical to the driver collect " +
    "fold (the extreme-P side of ExactMerge)") {
    // Many small partitions so the tree's executor-side pre-merges
    // combine partials in a genuinely different shape/order than the
    // driver's sequential fold — exact-cell merging must erase that.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").as("features"))
      .repartition(13)
    val params = KMeansParams(k = 5, threshold = 1e-6, maxLoop = 8,
      seed = 7L)
    val (viaCollect, collectStages) =
      jobStageNames(KMeans.fit(emb, params)) // 13 slices <= 1024
    // 13 slices > 1: every round treeReduces
    val (viaTree, treeStages) =
      jobStageNames(KMeans.fit(emb, params, shortcut = true, treeAbove = 1))
    assert(!collectStages.exists(_.startsWith("treeReduce at")))
    assert(treeStages.exists(_.startsWith("treeReduce at")))
    assert(viaTree.iterations === viaCollect.iterations)
    assert(viaTree.converged === viaCollect.converged)
    viaTree.centroids.zip(viaCollect.centroids).zipWithIndex.foreach {
      case ((t, c), i) => assert(t.toSeq === c.toSeq, s"centroid $i")
    }
  }

  test("a coalesce(1) input is folded by every slice, chunk-balanced, " +
    "and two fits of it are bit-identical") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    assert(sc.defaultParallelism >= 2)
    val dim = 64
    val chunk = KMeans.chunkRows(dim)
    val rnd = new scala.util.Random(21)
    // 10 full chunks and one partial chunk, all in ONE partition
    val pts = Seq.fill(chunk * 10 + 17)(Array.fill(dim)(rnd.nextFloat()))
    val df = toDF(pts).coalesce(1)
    assert(df.rdd.getNumPartitions === 1)
    val params = KMeansParams(k = 5, threshold = -1.0, maxLoop = 4,
      seed = 3L)

    val group = "kmeans-balance-spec"
    val roundStages = new ConcurrentLinkedQueue[Int]()
    val taskChunks = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          js.stageInfos.filter(_.name.startsWith("collect at"))
            .foreach(si => roundStages.add(si.stageId))
      // a round reads its chunks from the rebalancing shuffle (the
      // first round, which fills the cache) or from the cache
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          taskChunks.add(te.stageId ->
            (te.taskMetrics.inputMetrics.recordsRead +
              te.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "kmeans balance spec")
    // the distributed loop (no one-task job)
    def distributed() = KMeans.fit(df, params, shortcut = true, 0L, 0L)
    val first =
      try {
        val m = distributed()
        org.apache.spark.graftshim.drainListenerBus(sc)
        m
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    val second = distributed()

    val stages = roundStages.asScala.toSeq.sorted
    assert(stages.size === params.maxLoop - 1, "one job per round")
    val perStage = taskChunks.asScala.toSeq.groupBy(_._1)
    stages.foreach { st =>
      val counts = perStage(st).map(_._2)
      assert(counts.sum === 11L, s"stage $st")
      assert(counts.count(_ > 0) >= 2, s"stage $st: ${counts.sorted}")
      val mean = counts.sum.toDouble / counts.size
      assert(counts.max <= mean + 1, s"stage $st: ${counts.sorted}")
    }

    assert(second.iterations === first.iterations)
    first.centroids.zip(second.centroids).zipWithIndex.foreach {
      case ((a, b), i) =>
        assert(a.map(java.lang.Float.floatToRawIntBits).toSeq ===
          b.map(java.lang.Float.floatToRawIntBits).toSeq, s"centroid $i")
    }
  }

  /** `n` seeded Gaussian blobs around `k` centres in [-40, 40)^dim, in
    * three partitions. */
  private def blobs(n: Int, dim: Int, k: Int, sigma: Double, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centres = Array.fill(k)(Array.fill(dim)(rnd.nextDouble() * 80 - 40))
    val pts = Seq.fill(n) {
      centres(rnd.nextInt(k)).map(v => (v + sigma * rnd.nextGaussian()).toFloat)
    }
    spark.sparkContext.parallelize(pts.map(Tuple1(_)), 3).toDF("features")
  }

  test("the hinted fit (half-gap shortcut on each row's previous pick) " +
    "is bit-identical to the plain-scan fold on separated and " +
    "overlapping blobs, through the collect merge and through treeReduce") {
    for (sigma <- Seq(1.0, 30.0); tree <- Seq(ExactMerge.TreeAbove, 0)) {
      val df = blobs(20000, 16, 8, sigma, 5)
      val params = KMeansParams(k = 8, threshold = 1e-4, maxLoop = 15,
        seed = 11L)
      val hinted = KMeans.fit(df, params, shortcut = true, treeAbove = tree)
      val plain = KMeans.fit(df, params, shortcut = false, treeAbove = tree)
      val what = s"sigma=$sigma treeAbove=$tree"
      assert(hinted.iterations === plain.iterations, what)
      assert(hinted.converged === plain.converged, what)
      hinted.centroids.zip(plain.centroids).zipWithIndex.foreach {
        case ((a, b), i) =>
          assert(a.map(java.lang.Float.floatToRawIntBits).toSeq ===
            b.map(java.lang.Float.floatToRawIntBits).toSeq, s"$what centroid $i")
      }
    }
  }

  test("a maxLoop = 200 fit runs all 199 rounds over locally " +
    "checkpointed generations and leaves no RDD persisted") {
    val sc = spark.sparkContext
    val df = blobs(3000, 4, 3, 1.0, 9)
    val params = KMeansParams(k = 3, threshold = -1.0, maxLoop = 200,
      seed = 2L)
    val before = sc.getPersistentRDDs.keySet
    val model = KMeans.fit(df, params, shortcut = true, 0L, 0L)
    assert(model.iterations === 199)
    val after = sc.getPersistentRDDs.keySet
    assert(after.subsetOf(before), s"left persisted: ${after -- before}")
    // the same 199 rounds inside one task
    val oneTask = oneTaskFit(df, params)
    assert(oneTask.iterations === 199)
    assertSameFit(oneTask, model, "one task vs distributed")
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))
  }

  test("a distributed fit leaves none of its rounds' codebook " +
    "broadcasts in the driver's block manager") {
    val sc = spark.sparkContext
    // a round's codebook: (flat k×dim centroids, half-gap radii, cell
    // table)
    def codebooks = org.apache.spark.graftshim.driverBroadcastValues(sc)
      .collect { case (id, (_: Array[Double], _, _)) => id }.toSet
    val before = codebooks
    val model = KMeans.fit(blobs(3000, 4, 3, 1.0, 9), KMeansParams(k = 3,
      threshold = -1.0, maxLoop = 6, seed = 2L), shortcut = true, 0L, 0L)
    assert(model.iterations === 5)
    assert(codebooks -- before === Set.empty[Long])
  }

  /** `body`, with `df` cached in memory and built; uncached after. */
  private def whileCached[T](df: org.apache.spark.sql.DataFrame)(body: => T): T = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY).count()
    try body finally df.unpersist(blocking = true)
  }

  /** The fit of `df` cached in memory: the one-task fit when it is small. */
  private def oneTaskFit(df: org.apache.spark.sql.DataFrame,
      params: KMeansParams, shortcut: Boolean = true) =
    whileCached(df)(KMeans.fit(df, params, shortcut))

  private def bits(m: KMeansModel) =
    m.centroids.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq

  private def assertSameFit(a: KMeansModel, b: KMeansModel, what: String) = {
    assert(a.iterations === b.iterations, what)
    assert(a.converged === b.converged, what)
    assert(bits(a) === bits(b), what)
  }

  /** (jobs, tasks) that `body` runs, counted by a listener on a job
    * group, with its result. */
  private def jobsAndTasks[T](body: => T): ((Int, Int), T) = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = "kmeans-jobs-spec"
    val jobs = new AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet()
          js.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId)) tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "kmeans job count spec")
    val r =
      try {
        val v = body
        org.apache.spark.graftshim.drainListenerBus(sc)
        v
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    ((jobs.get, tasks.get), r)
  }

  /** Fits `df`, cached in memory, in one task (the default limits),
    * then on the distributed loop (its partials merged in a treeReduce
    * above `treeAbove` slices), and with the plain scan on both; all
    * four must be the same bits. Returns the one-task model. */
  private def fitAllWays(df: org.apache.spark.sql.DataFrame,
      params: KMeansParams, what: String,
      treeAbove: Int = ExactMerge.TreeAbove): KMeansModel = {
    val ((jobs, _), oneTask) =
      whileCached(df)(jobsAndTasks(KMeans.fit(df, params)))
    // a seeded init adds takeSample's count and sample jobs
    val sampling = if (params.initCentroids.isEmpty) 2 else 0
    assert(jobs <= sampling + 1, s"$what: the one-task fit ran $jobs jobs")
    val distributed = KMeans.fit(df, params, shortcut = true, 0L, 0L, treeAbove)
    val plainOneTask = oneTaskFit(df, params, shortcut = false)
    val plain = KMeans.fit(df, params, shortcut = false, 0L, 0L, treeAbove)
    assertSameFit(oneTask, distributed, s"$what: one task vs distributed")
    assertSameFit(oneTask, plainOneTask, s"$what: one task vs plain one task")
    assertSameFit(oneTask, plain, s"$what: one task vs plain scan")
    oneTask
  }

  /** Rows whose double sums depend on which chunks share a slice and in
    * which order a slice adds them: ±2^54 coordinates (with `n` a
    * multiple of 6 their exact total is 0) among small ones that a
    * 2^54-sized running sum rounds away. */
  private def cancelling(n: Int, dim: Int, parts: Int) = {
    import spark.implicits._
    val big = math.scalb(1.0f, 54)
    val pts = Seq.tabulate(n) { i =>
      Array.tabulate(dim) { d =>
        (i + d) % 6 match {
          case 0 => big
          case 1 => -big
          case r => (r + (i % 5)).toFloat * 0.75f
        }
      }
    }
    spark.sparkContext.parallelize(pts.map(Tuple1(_)), parts).toDF("features")
  }

  test("one-task fit ≡ distributed loop ≡ plain scan, bit for bit, " +
    "across input layouts, stops and edges") {
    val sep = blobs(20000, 16, 8, 1.0, 5)        // 3 partitions
    val wide = blobs(6000, 16, 8, 30.0, 6)
    val init8 = Some(sep.limit(8).collect().map(_.getSeq[Float](0).toArray))
    val dim64 = KMeans.chunkRows(64)
    val cases = Seq[(String, org.apache.spark.sql.DataFrame, KMeansParams)](
      ("3 partitions", sep,
        KMeansParams(k = 8, threshold = 1e-4, maxLoop = 12, seed = 11L)),
      ("coalesce(1)", sep.coalesce(1),
        KMeansParams(k = 8, threshold = -1.0, maxLoop = 6, seed = 11L)),
      ("more slices than partitions, partial last chunk", wide.coalesce(2),
        KMeansParams(k = 8, threshold = -1.0, maxLoop = 5, initCentroids = init8)),
      ("grouping-sensitive sums, 3 partitions", cancelling(dim64 * 9 + 42, 64, 3),
        KMeansParams(k = 1, threshold = -1.0, maxLoop = 3, seed = 1L)),
      ("grouping-sensitive sums, coalesce(1)",
        cancelling(dim64 * 7 + 2, 64, 3).coalesce(1),
        KMeansParams(k = 2, threshold = -1.0, maxLoop = 3, seed = 4L)),
      ("empty cluster", toDF(Seq(Array(0f), Array(1f), Array(2f))),
        KMeansParams(k = 3, threshold = -1.0, maxLoop = 4,
          initCentroids = Some(Array(Array(0f), Array(2f), Array(100f))))),
      ("empty input", toDF(Seq(Array(0f, 0f))).limit(0),
        KMeansParams(k = 2, threshold = 0.0, maxLoop = 5,
          initCentroids = Some(Array(Array(0f, 0f), Array(1f, 1f))))),
      ("maxLoop 1", sep, KMeansParams(k = 8, maxLoop = 1, initCentroids = init8)),
      ("maxLoop 2", sep, KMeansParams(k = 8, maxLoop = 2, initCentroids = init8)))
    cases.foreach { case (what, df, params) => fitAllWays(df, params, what) }

    // a threshold stop at round 2: round 1 moves 1.0, round 2 nothing
    val stop = fitAllWays(
      toDF(Seq(Array(0f), Array(2f), Array(10f), Array(12f))),
      KMeansParams(k = 2, threshold = 0.5, maxLoop = 10,
        initCentroids = Some(Array(Array(0f), Array(12f)))), "threshold stop")
    assert(stop.converged && stop.iterations === 2)
    // the empty input converges at once and keeps its centroids
    val empty = KMeans.fit(toDF(Seq(Array(0f, 0f))).limit(0),
      KMeansParams(k = 2, threshold = 0.0, maxLoop = 5,
        initCentroids = Some(Array(Array(0f, 0f), Array(1f, 1f)))))
    assert(empty.converged && empty.iterations === 1)
    // maxLoop 1 runs no job; maxLoop 2 runs one
    val init = KMeansParams(k = 8, initCentroids = init8)
    assert(jobsAndTasks(KMeans.fit(sep, init.copy(maxLoop = 1)))._1 === ((0, 0)))
    whileCached(sep) {
      assert(jobsAndTasks(KMeans.fit(sep, init.copy(maxLoop = 2)))._1 === ((1, 1)))
    }

    // every distributed round treeReduces
    fitAllWays(sep, KMeansParams(k = 8, threshold = -1.0, maxLoop = 5,
      seed = 3L), "treeAbove=0", treeAbove = 0)
  }

  test("a cached fit past M runs the distributed loop only, and a " +
    "one-task fit that hands back in round 1 ends in the same bits") {
    val df = blobs(8000, 16, 8, 1.0, 13)
    val init = df.limit(8).collect().map(_.getSeq[Float](0).toArray)
    val params = KMeansParams(k = 8, threshold = -1.0, maxLoop = 6,
      initCentroids = Some(init))
    val want = KMeans.fit(df, params, shortcut = true, 0L, 0L)
    whileCached(df) {
      // M one float short of the input: 5 distributed rounds; M the
      // input's floats: one task
      val floats = 8000L * 16
      val ((jobs, _), over) = jobsAndTasks(KMeans.fit(df, params,
        shortcut = true, floats - 1, KMeans.OneTaskProducts))
      assertSameFit(over, want, "past M")
      assert(jobs === 5, "one job per round")
      val ((atJobs, _), at) = jobsAndTasks(KMeans.fit(df, params,
        shortcut = true, floats, KMeans.OneTaskProducts))
      assertSameFit(at, want, "at M")
      assert(atJobs === 1)
    }

    // Overlapping 1-d data whose first round every row proves (far-apart
    // init) and whose second round mostly scans: round 1 passes even a
    // small W, and the task then runs every round.
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val pts = Seq.fill(20000)(Tuple1(Array(
      (rnd.nextInt(2) + rnd.nextGaussian()).toFloat)))
    val overlap = spark.sparkContext.parallelize(pts, 3).toDF("features")
    val p1 = KMeansParams(k = 2, threshold = -1.0, maxLoop = 6,
      initCentroids = Some(Array(Array(-10f), Array(11f))))
    val dist = KMeans.fit(overlap, p1, shortcut = true, 0L, 0L)
    whileCached(overlap) {
      val ((lateJobs, _), late) = jobsAndTasks(KMeans.fit(overlap, p1,
        shortcut = true, KMeans.OneTaskFloats, 4000L))
      assertSameFit(late, dist, "later rounds past W")
      assert(lateJobs === 1, "every round in the task")
      assertSameFit(KMeans.fit(overlap, p1), dist, "no hand-back")
    }

    // Two blobs apart only in their third coordinate, and a third
    // centroid far off in the first two, so the first round's cell table
    // (over the two coordinates the centroids spread widest in, here the
    // first two) guesses centroid 0 for every row: it misses about every
    // other row, and every pick it ends with is proven. Its scans, about
    // 3,000 rows of 9 products, pass 4 × 1,000 but not 4 × 10,000.
    val far = spark.sparkContext.parallelize(Seq.tabulate(6000) { i =>
      Tuple1(Array(rnd.nextGaussian().toFloat, rnd.nextGaussian().toFloat,
        (if (i % 2 == 0) -50 else 50) + rnd.nextGaussian().toFloat))
    }, 3).toDF("features")
    val p2 = KMeansParams(k = 3, threshold = -1.0, maxLoop = 6,
      initCentroids = Some(Array(Array(0f, 0f, -40f), Array(0f, 0f, 40f),
        Array(200f, 200f, 0f))))
    val farDist = KMeans.fit(far, p2, shortcut = true, 0L, 0L)
    whileCached(far) {
      val ((r1Jobs, _), r1) = jobsAndTasks(
        KMeans.fit(far, p2, shortcut = true, KMeans.OneTaskFloats, 1000L))
      assertSameFit(r1, farDist, "first-round hand-back")
      assert(r1Jobs === 1 + 5, "no round in the task, five distributed")
      val ((stayJobs, _), stay) = jobsAndTasks(
        KMeans.fit(far, p2, shortcut = true, KMeans.OneTaskFloats, 10000L))
      assertSameFit(stay, farDist, "first round within its slack")
      assert(stayJobs === 1)
    }
  }

  test("a small fit of an input cached in memory runs one job of one " +
    "task; an uncached or unbuilt input runs the distributed loop") {
    val df = blobs(20000, 16, 8, 1.0, 5)
    val init = df.limit(8).collect().map(_.getSeq[Float](0).toArray)
    val params = KMeansParams(k = 8, threshold = -1.0, maxLoop = 11,
      initCentroids = Some(init))
    val ((uncached, _), want) = jobsAndTasks(KMeans.fit(df, params))
    assert(uncached === 10, "one job per round")
    df.cache()
    try {
      // cached but not yet built: the loop's parallel read builds it
      val ((unbuilt, _), m1) = jobsAndTasks(KMeans.fit(df, params))
      assert(unbuilt === 10, "one job per round")
      val ((jobs, tasks), model) = jobsAndTasks(KMeans.fit(df, params))
      assert(model.iterations === 10)
      assert((jobs, tasks) === ((1, 1)))
      assertSameFit(m1, want, "unbuilt cache")
      assertSameFit(model, want, "built cache")
    } finally df.unpersist(blocking = true)
  }

  test("a null feature array or element fails loudly, naming the column, " +
    "in one task and in the distributed loop") {
    val withNullElem = spark.range(2).select(
      array(lit(1f), when(col("id") === 0, lit(null).cast("float"))
        .otherwise(lit(1f))).as("feats"))
    val withNullArray = spark.range(2).select(
      when(col("id") === 0, lit(null).cast("array<float>"))
        .otherwise(array(lit(1f), lit(1f))).as("feats"))
    val params = KMeansParams(k = 1, maxLoop = 3, featuresCol = "feats",
      initCentroids = Some(Array(Array(0f, 0f))))
    for ((df, what) <- Seq(withNullElem -> "element", withNullArray -> "array");
         oneTask <- Seq(true, false)) {
      val e = intercept[Exception](
        if (oneTask) oneTaskFit(df, params)
        else KMeans.fit(df, params, shortcut = true, 0L, 0L))
      val iae = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null)
        .collectFirst { case t: IllegalArgumentException => t }
      assert(iae.isDefined, s"$what oneTask=$oneTask: $e")
      assert(iae.get.getMessage.contains(s"null feature $what in column feats"))
    }
  }

  test("a row whose length is not dim fails loudly when rows are packed") {
    val pts = Seq(Array(0f, 0f), Array(1f, 1f), Array(2f))
    val init = Some(Array(Array(0f, 0f), Array(1f, 1f)))
    val e = intercept[Exception](KMeans.fit(toDF(pts),
      KMeansParams(k = 2, maxLoop = 3, initCentroids = init)))
    val iae = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .collectFirst { case t: IllegalArgumentException => t }
    assert(iae.isDefined, s"no IllegalArgumentException under $e")
    assert(iae.get.getMessage.contains("dim mismatch: 1 vs 2"))
    assert(iae.get.getStackTrace.exists(_.getMethodName.contains("packChunks")))
    // init centroids of unequal length fail before any job runs
    intercept[IllegalArgumentException](KMeans.fit(toDF(pts.take(2)),
      KMeansParams(k = 2, maxLoop = 3,
        initCentroids = Some(Array(Array(0f, 0f), Array(1f))))))
  }

  test("a seeded fit without initCentroids samples the caller's rows: " +
    "maxLoop = 1 returns KMeans.initCentroids exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(8)
    val pts = Seq.fill(500)(Tuple1(Array.fill(3)(rnd.nextFloat())))
    val df = spark.sparkContext.parallelize(pts, 3).toDF("features")
    for (seed <- Seq(1L, 42L)) {
      val model = KMeans.fit(df, KMeansParams(k = 4, maxLoop = 1, seed = seed))
      val want = KMeans.initCentroids(df, "features", 4, seed)
      assert(model.centroids.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
    }
  }
}

class DbiSpec extends SparkSpec {

  test("DBI hand-computed on 4 points, 2 clusters") {
    import spark.implicits._
    // cluster 0: (0,0),(0,2) centroid (0,1) -> sigma = 1
    // cluster 1: (10,0),(10,2) centroid (10,1) -> sigma = 1
    // d(c0,c1) = 10 -> ratio (1+1)/10 = 0.2 both ways -> DBI = 0.2
    val labeled = Seq(
      (Array(0f, 0f), 0), (Array(0f, 2f), 0),
      (Array(10f, 0f), 1), (Array(10f, 2f), 1)).toDF("features", "cluster")
    val cents = Array(Array(0f, 1f), Array(10f, 1f))
    val dbi = Dbi.compute(labeled, cents)
    assert(math.abs(dbi - 0.2) < 1e-9)
  }

  test("empty cluster degenerates DBI (reference parity, Main.java:93)") {
    import spark.implicits._
    // empty cluster 1: sigma(1) = 0/0 = NaN; the reference's running-max
    // `if (r > max)` skips NaN comparisons, leaving max = -Infinity, so
    // the final DBI is exactly -Infinity (not NaN) — we mirror exactly.
    val labeled = Seq((Array(0f), 0)).toDF("features", "cluster")
    val cents = Array(Array(0f), Array(5f))
    val dbi = Dbi.compute(labeled, cents)
    assert(dbi === Double.NegativeInfinity)
  }

  test("DBI ≡ a plain-Scala replay at k = 3, 16, 17, 40, with an " +
    "exactly equidistant point") {
    import spark.implicits._
    val rnd = new scala.util.Random(61L)
    val dim = 4
    // quarter-step coordinates: distances repeat exactly, and the
    // midpoint of two centroids is representable, so it is a true tie
    def vec(): Array[Float] =
      Array.fill(dim)((rnd.nextInt(9) * 0.25 - 1.0).toFloat)
    for (k <- Seq(3, 16, 17, 40)) {
      val cents = Iterator.continually(vec().toSeq).distinct.take(k)
        .map(_.toArray).toArray
      val tie = cents(0).zip(cents(1)).map { case (a, b) => (a + b) / 2 }
      assert(sqdist(tie, cents(0)) === sqdist(tie, cents(1)))
      // every centroid is also a point, so no cluster is empty
      val pts = cents.toSeq ++ Seq(tie) ++ Seq.fill(300)(vec())
      val labeled = KMeansModel(cents, 0, converged = true)
        .transform(pts.map(Tuple1(_)).toDF("features").repartition(3))
      val rows = labeled.collect()
        .map(r => (r.getSeq[Float](0).toArray, r.getInt(1)))
      rows.foreach { case (p, c) => assert(c === argminCentroid(p, cents)) }

      val sum = Array.fill(k)(BigDecimal(0))
      val cnt = new Array[Long](k)
      rows.foreach { case (p, c) =>
        sum(c) += BigDecimal(euclidean(p, cents(c)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        cnt(c) += 1
      }
      val sigma = Array.tabulate(k)(i => sum(i).toDouble / cnt(i))
      val want = (0 until k).map { i =>
        (0 until k).filter(_ != i)
          .map(j => (sigma(i) + sigma(j)) / euclidean(cents(i), cents(j)))
          .foldLeft(Double.NegativeInfinity)((mx, r) => if (r > mx) r else mx)
      }.foldLeft(0.0)(_ + _) / k

      val got = Dbi.compute(labeled, cents)
      assert(!got.isNaN && !got.isInfinite, s"k=$k")
      assert(got === want, s"k=$k")
    }
  }
}
