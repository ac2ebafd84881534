package graft.operators

import scala.jdk.CollectionConverters._

import graft.{ExactMerge, SparkSpec}

import GraphSpec.onTable

class GraphSpec extends SparkSpec {

  /** Independent in-memory replica of the same fixpoint: 12-dp-rounded
    * contributions summed exactly (BigDecimal), 9-dp-rounded damped
    * update; with `dangling` the sink mass (12-dp DECIMAL sum over one
    * double division by N) joins the damped term. */
  private def brute(
      edges: Seq[(Long, Long)], iters: Int, d: Double,
      dangling: Boolean = false): Map[Long, Double] = {
    val e = edges.distinct
    val out = e.groupBy(_._1).view.mapValues(_.size).toMap
    val nodes =
      (if (dangling) e.flatMap(p => Seq(p._1, p._2)) else e.map(_._1))
        .distinct.sorted
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val dmn =
        if (!dangling) 0.0
        else nodes.filterNot(out.contains)
          .map(v => BigDecimal(r(v))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble / n
      val sums = e
        .map { case (s, t) =>
          t -> BigDecimal(r(s) / out(s).toDouble)
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map { v =>
        val s = sums.getOrElse(v, BigDecimal(0)).toDouble
        val inner = if (dangling) s + dmn else s
        v -> BigDecimal((1.0 - d) / n + d * inner)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    r
  }

  // undirected square with one diagonal, fed as both directions
  private val undirected = Seq(
    1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 3L)
  private val edges = undirected ++ undirected.map(_.swap)

  test("pageRank matches an independent in-memory fixpoint") {
    import spark.implicits._
    val got = onTable(edges.toDF("src", "dst").repartition(3))(
        _.pageRank(iters = 8))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === brute(edges, 8, 0.85))
  }

  test("pageRank ranks the higher-degree nodes of the diagonal first") {
    import spark.implicits._
    val got = onTable(edges.toDF("src", "dst"))(_.pageRank(8))
      .collect().map(_.getLong(0)).toSeq
    // 1 and 3 have degree 3; 2 and 4 degree 2
    assert(got.take(2).toSet === Set(1L, 3L))
  }

  // directed triangle with a sink: node 3 has in-edges, no out-edge
  private val directed = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L)

  test("pageRank fails loudly on a sink node without the correction") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      onTable(directed.toDF("src", "dst"))(_.pageRank(iters = 3))
    }
    assert(ex.getMessage.contains("rank mass"), ex.getMessage)
  }

  test("danglingCorrection matches the replica and conserves mass") {
    import spark.implicits._
    val got = onTable(directed.toDF("src", "dst").repartition(3))(
        _.pageRank(iters = 6, danglingCorrection = true))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === brute(directed, 6, 0.85, dangling = true))
    // the sink's mass is recycled, not leaked
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
    // and the sink itself holds rank (it receives from 1 and 2)
    assert(got(3L) > got(2L))
  }

  test("danglingCorrection on a sink-free graph equals the cheap path") {
    import spark.implicits._
    val plain = onTable(edges.toDF("src", "dst"))(_.pageRank(4))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val corrected = onTable(edges.toDF("src", "dst"))(
        _.pageRank(4, danglingCorrection = true))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(plain === corrected)
  }

  test("pageRank mass stays ~1 and is partitioning-invariant") {
    import spark.implicits._
    val a = onTable(edges.toDF("src", "dst"))(_.pageRank(5))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val b = onTable(edges.toDF("src", "dst").repartition(7))(_.pageRank(5))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(a === b)
    assert(math.abs(a.map(_._2).sum - 1.0) < 1e-6)
  }

  // ------------------------------------------- distributed rank table

  test("distributed rank loop is bit-identical to the driver loop (undirected)") {
    import spark.implicits._
    val driver = onTable(edges.toDF("src", "dst").repartition(3))(
        _.pageRank(iters = 8))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val dist = onTable(edges.toDF("src", "dst").repartition(3))(gt =>
        Graph.pageRankImpl(gt, iters = 8, damping = 0.85,
          danglingCorrection = false, epsilon = None,
          distributed = Some(true)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(dist === driver)
  }

  test("distributed rank loop is bit-identical to the driver loop (dangling)") {
    import spark.implicits._
    val driver = onTable(directed.toDF("src", "dst"))(
        _.pageRank(iters = 6, danglingCorrection = true))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val dist = onTable(directed.toDF("src", "dst"))(gt =>
        Graph.pageRankImpl(gt, iters = 6, damping = 0.85,
          danglingCorrection = true, epsilon = None,
          distributed = Some(true)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(dist === driver)
  }

  test("distributed rank loop parity holds on a 300-node seeded random graph") {
    import spark.implicits._
    // deterministic pseudo-random digraph with sinks: every node gets
    // 1-4 out-edges except multiples of 17 (pure sinks)
    val rnd = new scala.util.Random(42)
    val g = (0L until 300L).flatMap { s =>
      if (s % 17 == 0) Seq.empty
      else (0 until (1 + rnd.nextInt(4))).map(_ => s -> rnd.nextInt(300).toLong)
    }.distinct
    val driver = onTable(g.toDF("src", "dst").repartition(5))(
        _.pageRank(iters = 7, danglingCorrection = true))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val dist = onTable(g.toDF("src", "dst").repartition(5))(gt =>
        Graph.pageRankImpl(gt, iters = 7, damping = 0.85,
          danglingCorrection = true, epsilon = None,
          distributed = Some(true)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(dist === driver)
    assert(math.abs(dist.map(_._2).sum - 1.0) < 1e-6)
  }

  test("distributed loop performs zero driver-side collects") {
    import spark.implicits._
    // CopyOnWriteArrayList: iteration (the .asScala.contains polls
    // below) is snapshot-safe against the listener thread's concurrent
    // adds — a synchronizedList would CME without external locking
    val recorded =
      new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { recorded.add(funcName); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // drain the bus first: a collect() from a PREVIOUS test can be
      // delivered after this listener registers — flush with a
      // sentinel, then clear, so the measured region starts clean
      spark.range(1).collect()
      val drain = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!recorded.asScala.contains("collect") &&
          System.nanoTime() < drain) Thread.sleep(50)
      Thread.sleep(200)
      recorded.clear()
      // distributed path: build+loop runs inside; the returned frame is
      // NOT collected here, so any "collect" would come from the loop
      onTable(directed.toDF("src", "dst"))(gt =>
        Graph.pageRankImpl(gt, iters = 4, damping = 0.85,
          danglingCorrection = true, epsilon = None,
          distributed = Some(true)))
      // sentinel: the listener bus is FIFO, so once the sentinel's
      // "collect" arrives every loop event has been delivered
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!recorded.asScala.contains("collect") &&
          System.nanoTime() < deadline) Thread.sleep(50)
      val collects = recorded.asScala.count(_ == "collect")
      assert(collects === 1, s"loop collected: ${recorded.asScala.toList}")

      // contrast: the driver-resident loop collects its node and
      // dangling lists up front (Dataset collects the listener sees;
      // the per-round merge is an RDD action) — proving the listener
      // records driver-body collects, so the distributed loop's zero
      // above is not a false negative
      recorded.clear()
      onTable(directed.toDF("src", "dst"))(
        _.pageRank(iters = 4, danglingCorrection = true))
      val deadline2 = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (recorded.asScala.count(_ == "collect") < 2 &&
          System.nanoTime() < deadline2) Thread.sleep(50)
      assert(recorded.asScala.count(_ == "collect") >= 2)
    } finally spark.listenerManager.unregister(listener)
  }

  // ----------------------------------------------- epsilon convergence

  /** Replica round-by-round: rank maps after each round (index 0 = the
    * uniform start), for epsilon-stop expectations. */
  private def bruteRounds(
      edges: Seq[(Long, Long)], iters: Int, d: Double,
      dangling: Boolean): Seq[Map[Long, Double]] =
    (0 to iters).map(r =>
      if (r == 0) {
        val e = edges.distinct
        val nodes =
          (if (dangling) e.flatMap(p => Seq(p._1, p._2)) else e.map(_._1))
            .distinct
        nodes.map(_ -> 1.0 / nodes.size).toMap
      } else brute(edges, r, d, dangling))

  test("epsilon stop: inclusive <= boundary, driver and distributed") {
    import spark.implicits._
    val rounds = bruteRounds(directed, 10, 0.85, dangling = true)
    val deltas = (1 to 10).map(r =>
      rounds(r).map { case (k, v) => math.abs(v - rounds(r - 1)(k)) }.max)
    // eps exactly equal to round-3's delta: the inclusive boundary must
    // stop at the FIRST round whose delta <= eps
    val eps = deltas(2) // delta after round 3 (0-indexed seq of rounds 1..10)
    val stopRound = (1 to 10).find(r => deltas(r - 1) <= eps).get
    assert(rounds(stopRound) !== rounds(stopRound + 1),
      "degenerate fixture: ranks already stationary")
    for (dist <- Seq(false, true)) {
      val got = onTable(directed.toDF("src", "dst"))(gt =>
          Graph.pageRankImpl(gt, iters = 10, damping = 0.85,
            danglingCorrection = true, epsilon = Some(eps),
            distributed = Some(dist)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === rounds(stopRound), s"distributed=$dist")
    }
  }

  // ------------------------------------------- personalized PageRank

  /** In-memory PPR replica: reset mass on the seed distribution,
    * dangling mass riding the same distribution, same 12-dp/9-dp
    * rounding devices. */
  private def brutePpr(
      edges: Seq[(Long, Long)], seedSet: Set[Long], iters: Int,
      d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val out = e.groupBy(_._1).view.mapValues(_.size).toMap
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val k = nodes.count(seedSet)
    val rv = nodes.map(v =>
      v -> (if (seedSet(v)) 1.0 / k else 0.0)).toMap
    var r = rv
    (1 to iters).foreach { _ =>
      val dmt = nodes.filterNot(out.contains)
        .map(v => BigDecimal(r(v))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      val sums = e
        .map { case (u, v) =>
          v -> BigDecimal(r(u) / out(u).toDouble)
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map { v =>
        val s = sums.getOrElse(v, BigDecimal(0)).toDouble
        v -> BigDecimal((1.0 - d) * rv(v) + d * (s + dmt * rv(v)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    r
  }

  test("personalizedPageRank matches the replica and conserves mass") {
    import spark.implicits._
    val got = onTable(directed.toDF("src", "dst").repartition(3))(
        _.personalizedPageRank(Seq(1L).toDF("node"), iters = 6))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === brutePpr(directed, Set(1L), 6, 0.85))
    // sink mass recycles to the seed: total mass stays ~1
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
    // the seed outranks everything it feeds only indirectly
    assert(got(1L) > got(2L))
  }

  test("personalizedPageRank parity on the 300-node random digraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val g = (0L until 300L).flatMap { s =>
      if (s % 17 == 0) Seq.empty
      else (0 until (1 + rnd.nextInt(4))).map(_ => s -> rnd.nextInt(300).toLong)
    }.distinct
    val seeds = (0L until 300L by 10).toSet
    val got = onTable(g.toDF("src", "dst").repartition(5))(
        _.personalizedPageRank(seeds.toSeq.toDF("node"), iters = 7))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === brutePpr(g, seeds, 7, 0.85))
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
  }

  test("PPR auto-selects the loop body by node count; both gate " +
    "sides bit-identical") {
    import spark.implicits._
    val confKey = "spark.graft.graph.maxDriverRankNodes"
    try {
      spark.conf.set(confKey, "2") // 7 nodes > 2 → the DISTRIBUTED body
      val viaDist = onTable(directed.toDF("src", "dst"))(
          _.personalizedPageRank(Seq(1L, 3L).toDF("node"), iters = 5))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      spark.conf.set(confKey, "1000") // 7 <= 1000 → the DRIVER body
      val viaDriver = onTable(directed.toDF("src", "dst"))(
          _.personalizedPageRank(Seq(1L, 3L).toDF("node"), iters = 5))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // the triangle-envelope discipline: crossing the gate must never
      // change the answer — and both match the in-memory replica
      assert(viaDist === viaDriver)
      assert(viaDriver.map(t => t._1 -> t._2).toMap ===
        brutePpr(directed, Set(1L, 3L), 5, 0.85))
    } finally spark.conf.unset(confKey)
  }

  test("PPR with all nodes as seeds equals uniform dangling PageRank") {
    import spark.implicits._
    // r(v) = 1/N uniformly and dm·r = dm/N, so the updates coincide —
    // up to one ulp from (1−d)·(1/N) vs (1−d)/N association, which
    // the 9-dp round absorbs (deterministically on this fixed
    // fixture). A consistency pin tying the two operators together.
    val allNodes = directed.flatMap(p => Seq(p._1, p._2)).distinct
    val ppr = onTable(directed.toDF("src", "dst"))(
        _.personalizedPageRank(allNodes.toDF("node"), iters = 6))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val uniform = onTable(directed.toDF("src", "dst"))(
        _.pageRank(iters = 6, danglingCorrection = true))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(ppr === uniform)
  }

  test("personalizedPageRank rejects seed sets disjoint from the graph") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      onTable(directed.toDF("src", "dst"))(
        _.personalizedPageRank(Seq(99L).toDF("node"), iters = 3))
    }
    assert(ex.getMessage.contains("seed"), ex.getMessage)
  }

  test("personalized loop performs zero driver-side collects") {
    import spark.implicits._
    // CopyOnWriteArrayList: iteration (the .asScala.contains polls
    // below) is snapshot-safe against the listener thread's concurrent
    // adds — a synchronizedList would CME without external locking
    val recorded =
      new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { recorded.add(funcName); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // drain stray events from previous tests (see the distributed
      // listener test), then measure
      spark.range(1).collect()
      val drain = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!recorded.asScala.contains("collect") &&
          System.nanoTime() < drain) Thread.sleep(50)
      Thread.sleep(200)
      recorded.clear()
      onTable(directed.toDF("src", "dst"))(gt =>
        Graph.personalizedPageRankImpl(gt, Seq(1L).toDF("node"), iters = 4,
          damping = 0.85, epsilon = None, distributed = Some(true)))
      spark.range(1).collect() // FIFO sentinel
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!recorded.asScala.contains("collect") &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(recorded.asScala.count(_ == "collect") === 1,
        s"loop collected: ${recorded.asScala.toList}")
    } finally spark.listenerManager.unregister(listener)
  }

  // --------------------------------------------------------------- HITS

  /** In-memory Jacobi-HITS replica: 12-dp DECIMAL gathers, exact L1
    * totals, 9-dp rounded normalized scores. */
  private def bruteHits(
      edges: Seq[(Long, Long)], iters: Int): Map[Long, (Double, Double)] = {
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.size.toDouble
    var auth = nodes.map(_ -> 1.0 / n).toMap
    var hub = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val ar = nodes.map(v =>
        v -> e.filter(_._2 == v).map(p => r12(hub(p._1))).sum).toMap
      val hr = nodes.map(v =>
        v -> e.filter(_._1 == v).map(p => r12(auth(p._2))).sum).toMap
      val ta = ar.values.sum.toDouble
      val th = hr.values.sum.toDouble
      auth = nodes.map(v => v -> r9(ar(v).toDouble / ta)).toMap
      hub = nodes.map(v => v -> r9(hr(v).toDouble / th)).toMap
    }
    nodes.map(v => v -> (auth(v), hub(v))).toMap
  }

  test("hits matches the replica; sink hubs and source auths are zero") {
    import spark.implicits._
    val got = onTable(directed.toDF("src", "dst").repartition(3))(
        _.hits(iters = 5))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(got === bruteHits(directed, 5))
    // L1-normalized: each score vector sums to ~1
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-6)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-6)
    // node 3 is a pure sink (best authority, zero hub); 1 a pure source
    assert(got(3L)._2 === 0.0)
    assert(got(1L)._1 === 0.0)
    assert(got(3L)._1 > got(2L)._1)
  }

  test("hits rounds run the FUSED single-gather plan: stage budget " +
    "per round is half the two-gather form's") {
    import spark.implicits._
    val group = s"graft-hits-fused-${System.nanoTime()}"
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet()
          stages.addAndGet(js.stageInfos.size)
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(jl)
    spark.sparkContext.setJobGroup(group, "hits fused-gather test")
    try {
      val got = onTable(directed.toDF("src", "dst").repartition(3))(gt =>
          Graph.hitsImpl(gt, iters = 8, epsilon = None,
            distributed = Some(true)))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
        .toMap
      assert(got === bruteHits(directed, 8))
      // the collect above means every job has ENDED; drain the async
      // bus deterministically instead of a flaky fixed sleep
      org.apache.spark.graftshim.drainListenerBus(spark.sparkContext)
      // each round is ONE localCheckpoint job (fused: a single
      // score-join + a single two-sum aggregate feed it); the
      // two-gather form submitted the same jobs but planned TWO
      // score joins + TWO aggregates per round — about twice the
      // stages. Fused measures ~6 stages/round; the bound flags any
      // regression back to the split plan (~11/round) while leaving
      // AQE headroom.
      assert(jobs.get() >= 8, s"jobs = ${jobs.get()}")
      assert(stages.get() <= jobs.get() * 8,
        s"stages = ${stages.get()} over ${jobs.get()} jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(jl)
    }
  }

  test("hits parity on the 300-node random digraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val g = (0L until 300L).flatMap { s =>
      if (s % 17 == 0) Seq.empty
      else (0 until (1 + rnd.nextInt(4))).map(_ => s -> rnd.nextInt(300).toLong)
    }.distinct
    val got = onTable(g.toDF("src", "dst").repartition(5))(
        _.hits(iters = 6))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(got === bruteHits(g, 6))
  }

  test("hits auto-selects the loop body by node count; both gate " +
    "sides bit-identical") {
    import spark.implicits._
    val confKey = "spark.graft.graph.maxDriverRankNodes"
    try {
      spark.conf.set(confKey, "2") // 7 nodes > 2 → the DISTRIBUTED body
      val viaDist = onTable(directed.toDF("src", "dst"))(_.hits(iters = 5))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      spark.conf.set(confKey, "1000") // 7 <= 1000 → the DRIVER body
      val viaDriver = onTable(directed.toDF("src", "dst"))(_.hits(iters = 5))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      // the triangle-envelope discipline: crossing the gate must never
      // change the answer — and both match the in-memory replica
      assert(viaDist === viaDriver)
      assert(viaDriver.map(t => t._1 -> (t._2, t._3)).toMap ===
        bruteHits(directed, 5))
    } finally spark.conf.unset(confKey)
  }

  test("epsilon stop: iters cap binds when epsilon is never reached") {
    import spark.implicits._
    for (dist <- Seq(false, true)) {
      val capped = onTable(directed.toDF("src", "dst"))(gt =>
          Graph.pageRankImpl(gt, iters = 3, damping = 0.85,
            danglingCorrection = true, epsilon = Some(1e-18),
            distributed = Some(dist)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(capped === brute(directed, 3, 0.85, dangling = true),
        s"distributed=$dist")
    }
  }

  // --------------------------------------------- HITS epsilon stop

  /** Round-by-round HITS replica for epsilon expectations. */
  private def bruteHitsRounds(
      edges: Seq[(Long, Long)],
      iters: Int): Seq[Map[Long, (Double, Double)]] = {
    val nodes = edges.distinct.flatMap(p => Seq(p._1, p._2)).distinct
    val n = nodes.size.toDouble
    val r0 = nodes.map(v => v -> (1.0 / n, 1.0 / n)).toMap
    (0 to iters).map(r => if (r == 0) r0 else bruteHits(edges, r))
  }

  test("hits epsilon: inclusive <= boundary stops at the first round") {
    import spark.implicits._
    val rounds = bruteHitsRounds(directed, 8)
    val deltas = (1 to 8).map { r =>
      rounds(r).map { case (k, (a, h)) =>
        math.max(math.abs(a - rounds(r - 1)(k)._1),
          math.abs(h - rounds(r - 1)(k)._2))
      }.max
    }
    // eps exactly equal to a mid-round delta: the inclusive boundary
    // must stop at the FIRST round whose delta <= eps
    val eps = deltas(1) // delta of round 2
    val stopRound = (1 to 8).find(r => deltas(r - 1) <= eps).get
    assert(rounds(stopRound) !== rounds(stopRound + 1),
      "degenerate fixture: scores already stationary")
    val got = onTable(directed.toDF("src", "dst"))(
        _.hits(iters = 8, epsilon = Some(eps)))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(got === rounds(stopRound))
  }

  test("hits epsilon: iters cap binds when epsilon is never reached") {
    import spark.implicits._
    val got = onTable(directed.toDF("src", "dst"))(
        _.hits(iters = 3, epsilon = Some(1e-18)))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(got === bruteHits(directed, 3))
  }

  test("hits rejects an empty graph loudly") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      onTable(Seq.empty[(Long, Long)].toDF("src", "dst"))(_.hits(iters = 2))
    }
    assert(ex.getMessage.contains("no nodes"), ex.getMessage)
  }

  // ------------------------------------------- weighted PageRank

  /** Weighted replica: contribution r(s)·w/Σw, out-weight totals as
    * 12-dp DECIMAL sums, same dangling + 9-dp update devices. */
  private def bruteWeighted(
      edges: Seq[(Long, Long, Double)], iters: Int,
      d: Double): Map[Long, Double] = {
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val wout = edges.groupBy(_._1).view
      .mapValues(es => es.map(e => r12(e._3)).sum.toDouble).toMap
    val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val dmn = nodes.filterNot(wout.contains)
        .map(v => r12(r(v))).sum.toDouble / n
      val sums = edges
        .map { case (s, t, w) => t -> r12(r(s) * w / wout(s)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map { v =>
        val s = sums.getOrElse(v, BigDecimal(0)).toDouble
        v -> BigDecimal((1.0 - d) / n + d * (s + dmn))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    r
  }

  private val weighted = Seq(
    (1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 3L, 2.0), (2L, 1L, 0.5))

  test("weighted pageRank matches the replica and conserves mass") {
    import spark.implicits._
    for (dist <- Seq(false, true)) {
      val got = onTable(weighted.toDF("src", "dst", "w").repartition(3),
          weightCol = Some("w"))(gt =>
          Graph.pageRankImpl(gt, iters = 6, damping = 0.85,
            danglingCorrection = true, epsilon = None,
            distributed = Some(dist)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === bruteWeighted(weighted, 6, 0.85),
        s"distributed=$dist")
      assert(math.abs(got.values.sum - 1.0) < 1e-6)
      // node 2 receives the heavy 3.0 edge: it outranks node 1
      assert(got(2L) > got(1L))
    }
  }

  test("uniform weights reproduce the unweighted ranks bit-for-bit") {
    import spark.implicits._
    val uni = directed.map { case (s, t) => (s, t, 1.0) }
    val plain = onTable(directed.toDF("src", "dst"))(
        _.pageRank(iters = 6, danglingCorrection = true))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val w = onTable(uni.toDF("src", "dst", "w"), weightCol = Some("w"))(
        _.pageRank(iters = 6, danglingCorrection = true))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(w === plain)
  }

  test("parallel edges combine weights; uniform-weight PPR = plain PPR") {
    import spark.implicits._
    // two parallel (1,2) half-weight edges combine to the single
    // full-weight edge — same fixpoint
    val split = Seq((1L, 2L, 1.5), (1L, 2L, 1.5), (1L, 3L, 1.0),
      (2L, 3L, 2.0), (2L, 1L, 0.5))
    val got = onTable(split.toDF("src", "dst", "w"), weightCol = Some("w"))(
        _.pageRank(iters = 5, danglingCorrection = true))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val whole = onTable(weighted.toDF("src", "dst", "w"),
        weightCol = Some("w"))(
        _.pageRank(iters = 5, danglingCorrection = true))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got === whole)
    // weighted PPR with uniform weights = unweighted PPR
    val uni = directed.map { case (s, t) => (s, t, 1.0) }
    val pprU = onTable(uni.toDF("src", "dst", "w"), weightCol = Some("w"))(
        _.personalizedPageRank(Seq(1L).toDF("node"), iters = 5))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val pprP = onTable(directed.toDF("src", "dst"))(
        _.personalizedPageRank(Seq(1L).toDF("node"), iters = 5))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(pprU === pprP)
  }

  // --------------------------------------------- label propagation

  /** In-memory Jacobi LPA replica: most frequent in-neighbor label,
    * min label on ties, keep-own when no in-edges. */
  private def bruteLpa(
      edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    var lbl = nodes.map(v => v -> v).toMap
    (1 to iters).foreach { _ =>
      val inc = e.groupBy(_._2)
      lbl = nodes.map { v =>
        inc.get(v) match {
          case None => v -> lbl(v)
          case Some(es) =>
            val cnt = es.map(p => lbl(p._1))
              .groupBy(identity).view.mapValues(_.size).toMap
            v -> cnt.toSeq.map { case (l, c) => (-c, l) }.min._2
        }
      }.toMap
    }
    lbl
  }

  test("labelPropagation matches the replica on two joined triangles") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by the single bridge 3-4
    val tri = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L,
      6L -> 4L, 3L -> 4L)
    val both = tri ++ tri.map(_.swap)
    val got = onTable(both.toDF("src", "dst").repartition(3))(
        _.labelPropagation(iters = 5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === bruteLpa(both, 5))
  }

  test("labelPropagation stops at the stationary fixpoint, result identical to full run") {
    import spark.implicits._
    // two disjoint triangles converge to their min labels in 2 rounds;
    // with the fixpoint stop, iters=100 must (a) answer identically to
    // the 100-round replica and (b) run a bounded number of Spark jobs
    // (each LPA round costs a handful; 100 live rounds would cost
    // hundreds)
    val tri = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 7L -> 8L, 8L -> 9L,
      9L -> 7L)
    val both = tri ++ tri.map(_.swap)
    // suites share the SparkContext and run in parallel, so count ONLY
    // this test's jobs: the job group is thread-local and inherited by
    // every job the LPA loop (and its localCheckpoints) submits
    val group = s"graft-lpa-fixpoint-${System.nanoTime()}"
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          counter.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(jl)
    spark.sparkContext.setJobGroup(group, "lpa fixpoint test")
    try {
      val got = onTable(both.toDF("src", "dst"))(
          _.labelPropagation(iters = 100))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === bruteLpa(both, 100))
      assert(got.values.toSet === Set(1L, 7L))
      // listener events are async — drain the bus deterministically
      org.apache.spark.graftshim.drainListenerBus(spark.sparkContext)
      // build+3 live rounds (the changed-nothing round included) is
      // ~20 jobs; 100 live rounds would be several hundred
      assert(counter.get() < 60, s"jobs = ${counter.get()}")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(jl)
    }
  }

  test("labelPropagation parity on the 300-node random digraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val g = (0L until 300L).flatMap { s =>
      if (s % 17 == 0) Seq.empty
      else (0 until (1 + rnd.nextInt(4))).map(_ => s -> rnd.nextInt(300).toLong)
    }.distinct
    val got = onTable(g.toDF("src", "dst").repartition(5))(
        _.labelPropagation(iters = 4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === bruteLpa(g, 4))
  }

  // ------------------------------------------------ graph artifact

  test("persisted graph artifact: load-then-iterate == inline-build") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gt_spec").toString
    try {
      Graph.writeGraphTable(directed.toDF("src", "dst"), "src", "dst",
        s"$dir/d")
      val gt = Graph.readGraphTable(spark, s"$dir/d")
      assert(gt.numNodes === 3 && gt.numSrcNodes === 2 &&
        gt.numEdges === 3 && gt.numDangling === 1)
      // PageRank (both bodies), PPR, HITS, LPA all answer identically
      // from the artifact and from the inline build
      def ranks(t: GraphTable, dist: Boolean) =
        Graph.pageRankImpl(t, iters = 5, damping = 0.85,
          danglingCorrection = true, epsilon = None, distributed = Some(dist))
      for (dist <- Seq(false, true)) {
        val art = ranks(gt, dist)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
        val inl = onTable(directed.toDF("src", "dst"))(ranks(_, dist))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
        assert(art === inl, s"distributed=$dist")
      }
      val pprA = gt.personalizedPageRank(Seq(1L).toDF("node"), iters = 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      val pprI = onTable(directed.toDF("src", "dst"))(
          _.personalizedPageRank(Seq(1L).toDF("node"), iters = 4))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      assert(pprA === pprI)
      val hA = gt.hits(iters = 4).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      val hI = onTable(directed.toDF("src", "dst"))(_.hits(iters = 4))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      assert(hA === hI)
      val lA = gt.labelPropagation(iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val lI = onTable(directed.toDF("src", "dst"))(
          _.labelPropagation(iters = 3))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(lA === lI)
      // the artifact carries the sink count: the cheap path fails fast
      val ex = intercept[IllegalArgumentException](gt.pageRank(iters = 2))
      assert(ex.getMessage.contains("rank mass"), ex.getMessage)
    } finally
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
  }

  test("weighted artifact roundtrips wout exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gt_specw").toString
    try {
      Graph.writeGraphTable(weighted.toDF("src", "dst", "w"), "src",
        "dst", s"$dir/w", weightCol = Some("w"))
      val gt = Graph.readGraphTable(spark, s"$dir/w")
      val art = gt.pageRank(iters = 6, danglingCorrection = true)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(art === bruteWeighted(weighted, 6, 0.85))
    } finally
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
  }

  // ------------------------------------------------ body auto-switch

  test("pageRank auto-selects the loop body by node count") {
    import spark.implicits._
    // CopyOnWriteArrayList: iteration (the .asScala.contains polls
    // below) is snapshot-safe against the listener thread's concurrent
    // adds — a synchronizedList would CME without external locking
    val recorded =
      new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { recorded.add(funcName); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val confKey = "spark.graft.graph.maxDriverRankNodes"
    try {
      // drain stray events (see the distributed listener test)
      spark.range(1).collect()
      val drain = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!recorded.asScala.contains("collect") &&
          System.nanoTime() < drain) Thread.sleep(50)
      Thread.sleep(200)

      // 3 nodes > threshold 2 → the DISTRIBUTED body (zero collects)
      spark.conf.set(confKey, "2")
      recorded.clear()
      val viaDist = onTable(directed.toDF("src", "dst"))(
          _.pageRank(iters = 4, danglingCorrection = true))
        .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
      spark.range(1).collect() // FIFO sentinel
      val d1 = System.nanoTime() + 30L * 1000 * 1000 * 1000
      // 2 collects are OURS (the rank readback + the sentinel); the
      // loop body itself must contribute zero
      while (recorded.asScala.count(_ == "collect") < 2 &&
          System.nanoTime() < d1) Thread.sleep(50)
      assert(recorded.asScala.count(_ == "collect") === 2,
        s"auto(distributed) collected: ${recorded.asScala.toList}")

      // 3 nodes <= threshold 1000 → the DRIVER body: node + dangling
      // list collects plus our readback = 3 Dataset collects (the
      // per-round merge is an RDD action the listener doesn't see) —
      // one MORE than the distributed body's 2, so selection is still
      // listener-discriminable
      spark.conf.set(confKey, "1000")
      recorded.clear()
      val viaDriver = onTable(directed.toDF("src", "dst"))(
          _.pageRank(iters = 4, danglingCorrection = true))
        .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
      val d2 = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (recorded.asScala.count(_ == "collect") < 3 &&
          System.nanoTime() < d2) Thread.sleep(50)
      assert(recorded.asScala.count(_ == "collect") >= 3)

      // the triangle-envelope discipline: crossing the gate must never
      // change the answer — both auto-selected bodies bit-identical
      assert(viaDist.toSeq === viaDriver.toSeq)
    } finally {
      spark.conf.unset(confKey)
      spark.listenerManager.unregister(listener)
    }
  }

  // ------------- structural tier: triangles / clustering coeff / k-core

  /** Seeded random simple graph, returned as the symmetric
    * double-edged feed. */
  private def randomSym(n: Int, m: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val pairs = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
    while (pairs.size < m) {
      val a = rnd.nextInt(n); val b = rnd.nextInt(n)
      if (a != b)
        pairs += ((math.min(a, b).toLong, math.max(a, b).toLong))
    }
    pairs.toSeq ++ pairs.toSeq.map(_.swap)
  }

  /** Per-node triangle counts by direct neighborhood intersection —
    * independent of the engine's degree orientation. */
  private def bruteTriangles(sym: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    adj.map { case (v, nb) =>
      v -> nb.toSeq.sorted.combinations(2)
        .count { case Seq(a, b) => adj(a).contains(b) }.toLong
    }
  }

  /** Jacobi peel replica (the k-core is unique, so the schedule does
    * not matter — this mirrors the engine's simultaneous removal). */
  private def bruteKCore(sym: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = sym.toSet
    var changed = true
    while (changed && es.nonEmpty) {
      val deg = es.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != es.size
      es = next
    }
    es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
  }

  test("triangleCounts matches neighborhood intersection on a random graph") {
    import spark.implicits._
    val sym = randomSym(40, 150, seed = 7L)
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    try {
      val got = gt.triangleCounts().collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val tri = bruteTriangles(sym)
      assert(got.keySet === deg.keySet)
      got.foreach { case (v, (d, t)) =>
        assert(d === deg(v), s"deg of $v")
        assert(t === tri(v), s"tri of $v")
      }
      // each triangle is credited to exactly its 3 corners
      assert(got.values.map(_._2).sum % 3 === 0)
    } finally gt.unpersist()
  }

  /** Runs `f` on each side of `csrMaxOrientedRows`: the default (csr
    * for every graph here), then 0 (the wedge plan for any graph with
    * an edge). */
  private def onBothTriangleSides[A](f: => A): (A, A) = {
    val key = "spark.graft.graph.csrMaxOrientedRows"
    try {
      val viaCsr = f
      spark.conf.set(key, "0")
      (viaCsr, f)
    } finally spark.conf.unset(key)
  }

  /** The triangle family's results on `gt`, collected in order. */
  private def triangleFamily(gt: GraphTable) = (
    gt.triangleCounts().collect().toSeq,
    gt.clusteringCoefficient().collect().toSeq,
    gt.edgeJaccard().collect().toSeq,
    Seq(30, 100).map(p =>
      gt.triangleCountEstimate(keepPct = p, seed = 5L).head()))

  test("triangle family: the csr and wedge sides of csrMaxOrientedRows " +
      "both match the brute-force replica") {
    import spark.implicits._
    val sym = randomSym(40, 150, seed = 7L)
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tri = bruteTriangles(sym)
    val counts = adj.keys.toSeq.sorted.map(v => (v, adj(v).size.toLong, tri(v)))
    val cc = counts.map { case (v, d, t) =>
      (v, d, t, if (d < 2) 0.0 else t * 2.0 / (d * (d - 1))) }
    val jac = sym.filter(e => e._1 < e._2).map { case (u, v) =>
      val common = (adj(u) & adj(v)).size.toLong
      (u, v, adj(u).size.toLong, adj(v).size.toLong, common,
        common.toDouble / (adj(u).size + adj(v).size - common))
    }.sortBy(r => (-r._6, r._1, r._2))
    // DOULION: the seeded-md5 coin replayed, then the exact count
    def estimate(keepPct: Int, seed: Long): (Long, Long, Double) = {
      val kept = sym.filter { case (s, d) =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed-$s-$d".getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        s < d && java.lang.Long.parseLong(md5.take(8), 16) % 100 < keepPct
      }
      val t = bruteTriangles(kept ++ kept.map(_.swap)).values.sum / 3
      (kept.size.toLong, t, t.toDouble *
        (1000000.0 / (keepPct.toLong * keepPct * keepPct).toDouble))
    }
    val est = Seq(30, 100).map(estimate(_, 5L))
    assert(est(1) === ((sym.size / 2).toLong, tri.values.sum / 3,
      (tri.values.sum / 3).toDouble))
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    try {
      val (viaCsr, viaWedge) = onBothTriangleSides(triangleFamily(gt))
      Seq("csr" -> viaCsr, "wedge" -> viaWedge).foreach {
        case (side, (gotCounts, gotCc, gotJac, gotEst)) =>
          assert(gotCounts.map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2))) === counts, side)
          assert(gotCc.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))) === cc, side)
          assert(gotJac.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getDouble(5))) === jac, side)
          assert(gotEst.map(r => (r.getLong(0), r.getLong(1),
            r.getDouble(2))) === est, side)
      }
    } finally gt.unpersist()
  }

  test("triangle algo: the csr and wedge sides of csrMaxOrientedRows " +
      "are bit-identical for long and int node ids") {
    import spark.implicits._
    val sym = randomSym(40, 150, seed = 11L)
    // int ids take csr's array_intersect close instead of the sorted merge
    Seq(sym.toDF("src", "dst"),
        sym.map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst"))
      .foreach { edges =>
        val gt = Graph.buildGraphTable(edges.repartition(3), "src", "dst",
          assumeDistinct = true)
        try {
          graft.CachePool.releaseAll()
          // a wedge call releases what a csr call left under its tags
          val ((viaCsr, csrLive), (viaWedge, wedgeLive)) =
            onBothTriangleSides(
              (triangleFamily(gt), graft.CachePool.liveCount))
          assert(viaCsr === viaWedge, edges.schema.head.dataType)
          assert(viaCsr._1.nonEmpty && viaCsr._3.nonEmpty)
          assert(csrLive > 0 && wedgeLive === 0, (csrLive, wedgeLive))
        } finally gt.unpersist()
      }
    val key = "spark.graft.graph.csrMaxOrientedRows"
    val gt = Graph.buildGraphTable(sym.toDF("src", "dst"), "src", "dst",
      assumeDistinct = true)
    try {
      spark.conf.set(key, "lots")
      val e = intercept[IllegalArgumentException](gt.triangleCounts())
      assert(e.getMessage.contains(key))
    } finally {
      spark.conf.unset(key)
      gt.unpersist()
    }
  }

  test("a full-output action over triangleCounts, clusteringCoefficient " +
      "or csr edgeJaccard runs each stage once: every shuffle record " +
      "written is read exactly once") {
    import spark.implicits._
    val sym = randomSym(40, 150, seed = 13L)
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    // (shuffle records written, shuffle records read) by every task of
    // `action`. A stage that ran twice (the range partitioner's sampling
    // pass, then the sort's map stage, both over a lazy pipeline) reads
    // its input shuffle twice.
    def shuffleRecords(action: => Unit): (Long, Long) = {
      val written = new java.util.concurrent.atomic.AtomicLong(0)
      val read = new java.util.concurrent.atomic.AtomicLong(0)
      val jl = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) {
            written.addAndGet(
              te.taskMetrics.shuffleWriteMetrics.recordsWritten)
            read.addAndGet(te.taskMetrics.shuffleReadMetrics.recordsRead)
            ()
          }
      }
      org.apache.spark.graftshim.drainListenerBus(spark.sparkContext)
      spark.sparkContext.addSparkListener(jl)
      try {
        action
        org.apache.spark.graftshim.drainListenerBus(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(jl)
      (written.get(), read.get())
    }
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "triangleCounts" -> (() => gt.triangleCounts()),
      "clusteringCoefficient" -> (() => gt.clusteringCoefficient()),
      "edgeJaccard" -> (() => gt.edgeJaccard()))
    // both sides: csr's lazy close and wedge's eager checkpoint
    try onBothTriangleSides {
      calls.foreach { case (name, call) =>
        val df = call() // the builder's own eager jobs run here
        var rows = 0
        val (written, read) = shuffleRecords { rows = df.collect().length }
        val side = spark.conf.getOption(
          "spark.graft.graph.csrMaxOrientedRows").fold("csr")(_ => "wedge")
        assert(rows > 0, s"$name $side")
        assert(written > 0, s"$name $side")
        assert(read === written, s"$name $side")
      }
    } finally gt.unpersist()
  }

  test("clusteringCoefficient: complete graph 1.0, path graph 0.0") {
    import spark.implicits._
    val k4 = (for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b)).toSeq
    val g1 = Graph.buildGraphTable(k4.toDF("src", "dst"), "src", "dst",
      assumeDistinct = true)
    try {
      val cc1 = g1.clusteringCoefficient().collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(cc1.values.forall(_ === 1.0), cc1)
    } finally g1.unpersist()
    val path = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val g2 = Graph.buildGraphTable(
      (path ++ path.map(_.swap)).toDF("src", "dst"), "src", "dst",
      assumeDistinct = true)
    try {
      val cc2 = g2.clusteringCoefficient().collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(cc2.values.forall(_ === 0.0), cc2)
    } finally g2.unpersist()
  }

  test("triangleCounts refuses a directed (sink-bearing) feed") {
    import spark.implicits._
    val gt = Graph.buildGraphTable(
      Seq(1L -> 2L).toDF("src", "dst"), "src", "dst")
    try {
      val e = intercept[IllegalArgumentException](gt.triangleCounts())
      assert(e.getMessage.contains("symmetric"))
    } finally gt.unpersist()
  }

  test("kCore matches the peel replica on a random graph") {
    import spark.implicits._
    val sym = randomSym(60, 220, seed = 11L)
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    try {
      val k = 5
      val got = gt.kCore(k, maxRounds = 50).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === bruteKCore(sym, k))
      // every surviving node really has in-core degree >= k
      assert(got.values.forall(_ >= k))
    } finally gt.unpersist()
  }

  test("triangleCountEstimate: keepPct=100 is exact; sampling is deterministic") {
    import spark.implicits._
    val sym = randomSym(40, 150, seed = 7L)
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    try {
      val exactTotal = bruteTriangles(sym).values.sum / 3
      val full = gt.triangleCountEstimate(keepPct = 100, seed = 13L).head()
      assert(full.getLong(0) === sym.size / 2)
      assert(full.getLong(1) === exactTotal)
      assert(full.getDouble(2) === exactTotal.toDouble)
      // the seeded-md5 coin makes the sample partitioning-invariant
      val s1 = gt.triangleCountEstimate(keepPct = 30, seed = 5L).head()
      val gt2 = Graph.buildGraphTable(
        sym.toDF("src", "dst").repartition(7), "src", "dst",
        assumeDistinct = true)
      try {
        val s2 = gt2.triangleCountEstimate(keepPct = 30, seed = 5L).head()
        assert(s1.toSeq === s2.toSeq)
      } finally gt2.unpersist()
    } finally gt.unpersist()
  }

  test("bfsLevels matches an in-memory BFS; depth cap truncates") {
    import spark.implicits._
    val sym = randomSym(50, 120, seed = 19L)
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = Seq(0L, 1L, 2L)
    def bruteBfs(cap: Int): Map[Long, Int] = {
      val lvl = scala.collection.mutable.Map[Long, Int]()
      var frontier = seeds.filter(adj.contains).toSet
      frontier.foreach(lvl(_) = 0)
      var d = 0
      while (d < cap && frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj(_)).filterNot(lvl.contains)
        frontier.foreach(lvl(_) = d)
      }
      lvl.toMap
    }
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    try {
      Seq(2, 10).foreach { cap =>
        val got = gt.bfsLevels(seeds.toDF("node"), maxDepth = cap)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got === bruteBfs(cap), s"cap $cap")
      }
    } finally gt.unpersist()
  }

  test("shortestPaths matches in-memory Bellman–Ford; round cap binds") {
    import spark.implicits._
    // deterministic integer costs 1..5 per directed pair
    val we = randomSym(50, 120, seed = 29L)
      .map { case (s, t) => (s, t, ((s * 31 + t * 17) % 5 + 1).toDouble) }
    val seeds = Seq(0L, 1L, 2L, 999L) // 999 absent from the graph
    def bruteSp(cap: Int): Map[Long, Double] = {
      val present = we.flatMap(e => Seq(e._1, e._2)).toSet
      var dist = seeds.filter(present).map(_ -> 0.0).toMap
      (1 to cap).foreach { _ =>
        val relax = we
          .flatMap { case (s, t, w) => dist.get(s).map(d => t -> (d + w)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
        dist = (dist.keySet ++ relax.keySet).map { n =>
          n -> math.min(dist.getOrElse(n, Double.MaxValue),
            relax.getOrElse(n, Double.MaxValue))
        }.toMap
      }
      dist
    }
    val gt = Graph.buildGraphTable(
      we.toDF("src", "dst", "w").repartition(3), "src", "dst",
      weightCol = Some("w"), assumeDistinct = true)
    try {
      Seq(0, 2, 20).foreach { cap => // 20 > diameter: early-stop ≡ cap
        val got = gt.shortestPaths(seeds.toDF("node"), maxRounds = cap)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got === bruteSp(cap), s"cap $cap")
      }
      // cheaper multi-hop detours must beat direct heavy edges: some
      // node's distance strictly improves between cap 1 and fixpoint
      assert(bruteSp(20).exists { case (n, d) =>
        bruteSp(1).get(n).exists(_ > d)
      })
    } finally gt.unpersist()
  }

  test("shortestPaths parity on a 300-node random weighted digraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    val we = (0 until 1200).map { _ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong,
        (rnd.nextInt(9) + 1).toDouble)
    }.distinct.filter(e => e._1 != e._2)
    val seeds = Seq(0L, 1L, 2L, 3L, 4L)
    def brute(cap: Int): Map[Long, Double] = {
      val present = we.flatMap(e => Seq(e._1, e._2)).toSet
      var dist = seeds.filter(present).map(_ -> 0.0).toMap
      (1 to cap).foreach { _ =>
        val relax = we
          .flatMap { case (s, t, w) => dist.get(s).map(d => t -> (d + w)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
        dist = (dist.keySet ++ relax.keySet).map { n =>
          n -> math.min(dist.getOrElse(n, Double.MaxValue),
            relax.getOrElse(n, Double.MaxValue))
        }.toMap
      }
      dist
    }
    val gt = Graph.buildGraphTable(
      we.toDF("src", "dst", "w").repartition(7), "src", "dst",
      weightCol = Some("w"), assumeDistinct = true)
    try {
      val got = gt.shortestPaths(seeds.toDF("node"), maxRounds = 50)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === brute(50)) // 50 > any shortest path's hop count
      assert(got.size > 250, s"reach should be near-total, got ${got.size}")
    } finally gt.unpersist()
  }

  test("loop twins auto-select by the maxDriverLoopEdges gate; both " +
    "sides bit-identical (label prop, k-core, BFS, shortest paths)") {
    import spark.implicits._
    val confKey = "spark.graft.graph.maxDriverLoopEdges"
    val sym = randomSym(60, 220, seed = 41L)
    // directed weighted feed for the Bellman–Ford pair (weights need
    // not be symmetric — the operator takes any weighted edge list)
    val we = sym.map { case (s, t) =>
      (s, t, ((s * 13 + t * 7) % 4 + 1).toDouble)
    }
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    val gtw = Graph.buildGraphTable(
      we.toDF("src", "dst", "w").repartition(3), "src", "dst",
      weightCol = Some("w"), assumeDistinct = true)
    val seeds = Seq(0L, 1L, 2L, 999L) // 999 absent from the graph
    try {
      def runAll() = (
        gt.labelPropagation(iters = 4).collect().map(_.toSeq).toSeq,
        gt.kCore(5, maxRounds = 50).collect().map(_.toSeq).toSeq,
        gt.bfsLevels(seeds.toDF("node"), maxDepth = 3)
          .collect().map(_.toSeq).toSeq,
        gtw.shortestPaths(seeds.toDF("node"), maxRounds = 4)
          .collect().map(_.toSeq).toSeq)
      spark.conf.set(confKey, "0") // edges > 0 → the DISTRIBUTED bodies
      val viaDist = runAll()
      spark.conf.unset(confKey) // default gate → the DRIVER twins
      val viaDriver = runAll()
      // the triangle-envelope discipline: crossing the gate must never
      // change the answer, for any of the four loop twins
      assert(viaDist._1 === viaDriver._1, "labelPropagation")
      assert(viaDist._2 === viaDriver._2, "kCore")
      assert(viaDist._3 === viaDriver._3, "bfsLevels")
      assert(viaDist._4 === viaDriver._4, "shortestPaths")
      assert(viaDriver._1.nonEmpty && viaDriver._2.nonEmpty &&
        viaDriver._3.nonEmpty && viaDriver._4.nonEmpty)
    } finally {
      spark.conf.unset(confKey)
      gt.unpersist()
      gtw.unpersist()
    }
  }

  test("edgeJaccard matches the adjacency-set replica") {
    import spark.implicits._
    val sym = randomSym(40, 150, seed = 23L)
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exp = sym.filter(e => e._1 < e._2).map { case (u, v) =>
      val common = (adj(u) & adj(v)).size.toLong
      (u, v, adj(u).size.toLong, adj(v).size.toLong, common,
        common.toDouble / (adj(u).size + adj(v).size - common))
    }.toSet
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    try {
      val got = gt.edgeJaccard().collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      assert(got === exp)
    } finally gt.unpersist()
  }

  test("adamicAdar matches the adjacency-set replica, hub cap applied") {
    import spark.implicits._
    val sym = randomSym(40, 150, seed = 29L)
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val edgeSet = sym.toSet
    val cap = 9 // excludes some centers of this graph (max deg ~12)
    assert(adj.values.exists(_.size > cap),
      "fixture must contain at least one capped hub")
    // exact long micro-units, mirroring the engine's 12-dp × 10¹² form
    def units(b: Long): Long =
      (BigDecimal(1.0 / math.log(adj(b).size.toDouble))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        * BigDecimal(1000000000000L)).toLongExact
    val nodes = adj.keySet
    val exp = (for {
      u <- nodes.toSeq; w <- nodes.toSeq
      if u < w && !edgeSet.contains((u, w))
      cs = (adj(u) & adj(w))
        .filter(b => adj(b).size >= 2 && adj(b).size <= cap)
      if cs.nonEmpty
    } yield (u, w, cs.size.toLong,
      cs.toSeq.map(units).sum.toDouble / 1.0e12)).toSet
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    try {
      val got = gt.adamicAdar(maxDegree = cap).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === exp)
    } finally gt.unpersist()
  }

  test("adamicAdar: broadcast and shuffle_hash neighbour joins are " +
    "bit-identical") {
    import spark.implicits._
    val gt = Graph.buildGraphTable(
      randomSym(40, 150, seed = 31L).toDF("src", "dst").repartition(3),
      "src", "dst", assumeDistinct = true)
    def joins(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    try {
      // the tiny nb table broadcasts at the 2M default
      val broadcast = gt.adamicAdar(maxDegree = 10)
      // every nb table exceeds a 0-row envelope
      val shuffled = Graph.adamicAdarImpl(gt, 10, broadcastMaxNbRows = 0L)
      val viaBroadcast = broadcast.collect().toSeq
      val viaShuffle = shuffled.collect().toSeq
      assert(joins(broadcast).contains("BroadcastHashJoin"))
      assert(joins(shuffled).contains("ShuffledHashJoin"))
      assert(viaBroadcast.nonEmpty)
      assert(viaShuffle === viaBroadcast)
    } finally gt.unpersist()
  }

  /** The 200-node seeded random digraph (sinks at multiples of 13). */
  private def digraph200: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(43)
    (0L until 200L).flatMap { s =>
      if (s % 13 == 0) Seq.empty
      else (0 until (1 + rnd.nextInt(4))).map(_ => s -> rnd.nextInt(200).toLong)
    }.distinct
  }

  /** Rows with every double replaced by its raw IEEE bits, so `===`
    * means bit-equal (0.0 vs -0.0 and NaN payloads included). */
  private def bits(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  test("driver twins: ExactMerge's treeReduce merge ≡ collect fold in " +
    "every driver twin") {
    import spark.implicits._
    val seeds = Seq(0L, 1L, 2L, 999L).toDF("node") // 999 absent
    // every driver twin, each on a graph it accepts, built from edge
    // frames of `parts` partitions, with the stage names of its jobs
    def run(parts: Int) = {
      val sym = Graph.buildGraphTable(
        randomSym(60, 220, seed = 41L).toDF("src", "dst").repartition(parts),
        "src", "dst", assumeDistinct = true)
      val wt = Graph.buildGraphTable(
        digraph200.map { case (s, t) => (s, t, ((s * 13 + t * 7) % 4 + 1).toDouble) }
          .toDF("src", "dst", "w").repartition(parts),
        "src", "dst", weightCol = Some("w"), assumeDistinct = true)
      try Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "pageRank" -> (() => wt.pageRank(iters = 4, danglingCorrection = true)),
        "personalizedPageRank" -> (() => wt.personalizedPageRank(seeds,
          iters = 4)),
        "hits" -> (() => wt.hits(iters = 4)),
        "labelPropagation" -> (() => sym.labelPropagation(iters = 4)),
        "kCore" -> (() => sym.kCore(5, maxRounds = 50)),
        "bfsLevels" -> (() => wt.bfsLevels(seeds, maxDepth = 3)),
        "shortestPaths" -> (() => wt.shortestPaths(seeds, maxRounds = 4)))
        .map { case (name, call) =>
          val (rows, stages) = jobStageNames(bits(call()))
          (name, rows, stages.exists(_.startsWith("treeReduce at")))
        }
      finally Seq(sym, wt).foreach(_.unpersist())
    }
    val viaCollect = run(5) // 5 edge partitions <= 1024
    val viaTree = run(ExactMerge.TreeAbove + 1)
    viaCollect.zip(viaTree).foreach { case ((name, c, cTree), (_, t, tTree)) =>
      assert(c.nonEmpty, name)
      assert(!cTree && tTree, s"$name ran a treeReduce: at 5 partitions " +
        s"$cTree, at ${ExactMerge.TreeAbove + 1} $tTree")
      assert(t === c, name)
    }
  }

  test("driver twins persist nothing past the call (in-memory and " +
    "parquet-loaded graph tables)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gt_release").toString
    // graph tables are built BEFORE the measured calls: their own
    // caches are held on both sides of every call, so they never count
    val gt = Graph.buildGraphTable(digraph200.toDF("src", "dst")
      .repartition(5), "src", "dst")
    Graph.writeGraphTable(digraph200.toDF("src", "dst"), "src", "dst",
      s"$dir/g")
    val art = Graph.readGraphTable(spark, s"$dir/g")
    val sym = Graph.buildGraphTable(
      randomSym(60, 220, seed = 41L).toDF("src", "dst").repartition(5),
      "src", "dst", assumeDistinct = true)
    val seeds = Seq(0L, 1L, 2L).toDF("node")
    val calls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (() => gt.pageRank(iters = 4,
        danglingCorrection = true)),
      "pageRank (artifact)" -> (() => art.pageRank(iters = 4,
        danglingCorrection = true)),
      "personalizedPageRank" -> (() => gt.personalizedPageRank(seeds,
        iters = 4)),
      "personalizedPageRank (artifact)" -> (() => art.personalizedPageRank(
        seeds, iters = 4)),
      "hits" -> (() => gt.hits(iters = 4)),
      "labelPropagation" -> (() => sym.labelPropagation(iters = 4)),
      "kCore" -> (() => sym.kCore(5, maxRounds = 50)),
      "bfsLevels" -> (() => sym.bfsLevels(seeds, maxDepth = 3)),
      "shortestPaths" -> (() => gt.shortestPaths(seeds, maxRounds = 4)))
    // the driver's copies of the harness's broadcasts: its node index
    // and each wave's round state
    def harnessBroadcasts = org.apache.spark.graftshim
      .driverBroadcastValues(spark.sparkContext).collect {
        case (id, _: java.util.HashMap[_, _] | _: Array[Double] |
            _: Array[java.math.BigDecimal] | _: Array[Int] |
            _: Array[Boolean]) => id
      }.toSet
    // getPersistentRDDs holds its RDDs weakly: a leaked RDD that the GC
    // has already reclaimed no longer shows, so a leak can slip past one
    // call, but a clean call can never fail here (likewise a broadcast
    // the context cleaner has already dropped)
    try {
      calls.foreach { case (name, call) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val bcBefore = harnessBroadcasts
        assert(call().collect().nonEmpty, name)
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"$name left RDDs ${leaked.toSeq.sorted} persisted")
        val bcLeaked = harnessBroadcasts -- bcBefore
        assert(bcLeaked.isEmpty,
          s"$name left broadcasts ${bcLeaked.toSeq.sorted} on the driver")
      }
    } finally {
      gt.unpersist()
      sym.unpersist()
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  /** A 60-node path fed as both directions with weights 1-3, and a
    * 300-node one-direction path for [[Components]]: label propagation
    * oscillates on a path, k = 2 peels one node off each end per round,
    * BFS and shortest paths reach one more node per round, and the
    * components' pointer jumping needs more than 3 rounds — so no
    * round-counted call below stops early. */
  private def paths(): (GraphTable, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val path = (0L until 59L).map(v => (v, v + 1, (v % 3 + 1).toDouble))
    val pathW = Graph.buildGraphTable(
      (path ++ path.map(e => (e._2, e._1, e._3))).toDF("src", "dst", "w")
        .repartition(5),
      "src", "dst", weightCol = Some("w"), assumeDistinct = true)
    (pathW, (0L until 299L).map(v => (v, v + 1)).toDF("src", "dst")
      .repartition(5))
  }

  /** Runs `f` with every loop family forced onto its distributed body. */
  private def forcedDistributed[A](f: => A): A = {
    val key = "spark.graft.graph.maxDriverLoopEdges"
    try {
      spark.conf.set(key, "0")
      f
    } finally spark.conf.unset(key)
  }

  test("distributed graph loops keep their per-round job and stage " +
    "counts (PageRank with and without the sink correction, PPR, HITS, " +
    "label propagation, k-core, BFS, shortest paths, connected " +
    "components)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val g = (0L until 300L).flatMap { s =>
      if (s % 17 == 0) Seq.empty
      else (0 until (1 + rnd.nextInt(4))).map(_ => s -> rnd.nextInt(300).toLong)
    }.distinct
    val gt = Graph.buildGraphTable(g.toDF("src", "dst").repartition(5),
      "src", "dst")
    // the cheap (no-correction) path needs a sink-free graph: the same
    // digraph with every edge also reversed
    val gtSym = Graph.buildGraphTable(
      (g ++ g.map(_.swap)).toDF("src", "dst").repartition(5), "src", "dst")
    val seeds = (0L until 300L by 10).toDF("node")
    val (pathW, long) = paths()
    val seed0 = Seq(0L).toDF("node")
    // (jobs, stages) of one call. Counts every job in the window, not a
    // job group: the loop primes its caches from pool threads, which do
    // not reliably inherit the caller's group. Specs in this JVM run one
    // at a time, so the window holds only this call's jobs. AQE is off
    // for the counted calls: with it on, a join re-planned from runtime
    // sizes races the stages still running, and the same call submits a
    // different number of jobs from run to run; the static plan's job
    // and stage counts are exact.
    def shape(call: => Any): (Int, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val stages = new java.util.concurrent.atomic.AtomicInteger(0)
      val jl = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          stages.addAndGet(js.stageInfos.size)
          ()
        }
      }
      org.apache.spark.graftshim.drainListenerBus(spark.sparkContext)
      spark.sparkContext.addSparkListener(jl)
      try {
        call
        org.apache.spark.graftshim.drainListenerBus(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(jl)
      (jobs.get(), stages.get())
    }
    def perRound(call: Int => Any): (Int, Int) = {
      val (j2, s2) = shape(call(2))
      val (j3, s3) = shape(call(3))
      (j3 - j2, s3 - s2)
    }
    val aqe = "spark.sql.adaptive.enabled"
    try forcedDistributed {
      spark.conf.set(aqe, "false")
      val got = Seq(
        "pageRank, sink correction" -> perRound(it => Graph.pageRankImpl(gt,
          it, 0.85, danglingCorrection = true, None, Some(true))),
        "pageRank, no correction" -> perRound(it => Graph.pageRankImpl(gtSym,
          it, 0.85, danglingCorrection = false, None, Some(true))),
        "personalizedPageRank" -> perRound(it =>
          Graph.personalizedPageRankImpl(gt, seeds, it, 0.85, None,
            Some(true))),
        "hits" -> perRound(it => Graph.hitsImpl(gt, it, None, Some(true))),
        "labelPropagation" -> perRound(it => pathW.labelPropagation(it)),
        "kCore" -> perRound(it => pathW.kCore(2, maxRounds = it)),
        "bfsLevels" -> perRound(it => pathW.bfsLevels(seed0, maxDepth = it)),
        "shortestPaths" -> perRound(it =>
          pathW.shortestPaths(seed0, maxRounds = it)),
        "connectedComponents" -> perRound(it =>
          intercept[IllegalArgumentException](
            Components.connectedComponents(long, maxRounds = it))))
      // measured (twice, identical) on the code before the PageRank and
      // PPR distributed bodies shared one rank loop; the shared loop
      // must reproduce them exactly
      val exact = Map(
        "pageRank, sink correction" -> (2, 9),
        "pageRank, no correction" -> (1, 8),
        "personalizedPageRank" -> (2, 9))
      // measured (twice, identical) on the code before the other bodies
      // ran on one executor; a round may get cheaper, never dearer
      val ceiling = Map(
        "hits" -> (2, 12),
        "labelPropagation" -> (2, 4),
        "kCore" -> (3, 3),
        "bfsLevels" -> (3, 8),
        "shortestPaths" -> (3, 9),
        "connectedComponents" -> (2, 9))
      got.foreach { case (name, (jobs, stages)) =>
        exact.get(name) match {
          case Some(want) => assert((jobs, stages) === want, name)
          case None =>
            val (j, s) = ceiling(name)
            assert(jobs <= j && stages <= s,
              s"$name: ($jobs, $stages) per round, ceiling ($j, $s)")
        }
      }
    } finally {
      spark.conf.unset(aqe)
      gt.unpersist()
      gtSym.unpersist()
      pathW.unpersist()
    }
  }

  test("distributed bodies persist nothing past the call but the " +
    "returned frame's last checkpoint, and nothing on a throw") {
    import spark.implicits._
    val gt = Graph.buildGraphTable(digraph200.toDF("src", "dst")
      .repartition(5), "src", "dst")
    val sym = Graph.buildGraphTable(
      randomSym(60, 220, seed = 41L).toDF("src", "dst").repartition(5),
      "src", "dst", assumeDistinct = true)
    val (pathW, long) = paths()
    val seeds = Seq(0L, 1L, 2L).toDF("node")
    val calls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRankImpl(gt, iters = 4, 0.85,
        danglingCorrection = true, None, distributed = Some(true))),
      "pageRank, epsilon" -> (() => Graph.pageRankImpl(gt, iters = 40, 0.85,
        danglingCorrection = true, epsilon = Some(1e-4),
        distributed = Some(true))),
      "personalizedPageRank" -> (() => Graph.personalizedPageRankImpl(gt,
        seeds, iters = 4, 0.85, None, distributed = Some(true))),
      "hits" -> (() => Graph.hitsImpl(gt, iters = 4, epsilon = Some(1e-4),
        distributed = Some(true))),
      "labelPropagation" -> (() => sym.labelPropagation(iters = 4)),
      "kCore" -> (() => sym.kCore(5, maxRounds = 50)),
      "bfsLevels" -> (() => sym.bfsLevels(seeds, maxDepth = 3)),
      "shortestPaths" -> (() => pathW.shortestPaths(seeds, maxRounds = 4)),
      "connectedComponents" -> (() =>
        Components.connectedComponents(sym.edges)))
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // getPersistentRDDs holds its RDDs weakly: a leaked RDD that the GC
    // has already reclaimed no longer shows, so a leak can slip past one
    // call, but a clean call can never fail here
    try forcedDistributed {
      calls.foreach { case (name, call) =>
        val before = persisted
        val df = call()
        val kept = df.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
        }.toSet
        val added = persisted -- before
        assert(kept.nonEmpty && added === kept,
          s"$name left RDDs ${added.toSeq.sorted} persisted; its result " +
            s"reads ${kept.toSeq.sorted}")
        assert(df.collect().nonEmpty, name)
      }
      val before = persisted
      intercept[IllegalArgumentException](
        Components.connectedComponents(long, maxRounds = 2))
      val leaked = persisted -- before
      assert(leaked.isEmpty,
        s"the maxRounds throw left RDDs ${leaked.toSeq.sorted} persisted")
    } finally {
      gt.unpersist()
      sym.unpersist()
      pathW.unpersist()
    }
  }

  test("adamicAdar packed-key gate: an id >= 2^31 that is only a " +
      "degree-1 NEIGHBOR (never an eligible center) disables packing " +
      "and the result still matches the set replica") {
    import spark.implicits._
    // 2^33 + 7: if packed as u·2^32 + w this spills into u's bits and
    // unpacks as a DIFFERENT pair — the latent aliasing the probe must
    // catch. Degree 1 keeps it out of the eligible-center set, so an
    // eligible-only id probe (the round-14 bug) would wrongly enable
    // the packed plan.
    val big = 8589934599L
    val und = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 2L -> big, 3L -> 4L)
    val sym = (und ++ und.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val edgeSet = sym.toSet
    val cap = 10
    def units(b: Long): Long =
      (BigDecimal(1.0 / math.log(adj(b).size.toDouble))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        * BigDecimal(1000000000000L)).toLongExact
    val nodes = adj.keySet
    val exp = (for {
      u <- nodes.toSeq; w <- nodes.toSeq
      if u < w && !edgeSet.contains((u, w))
      cs = (adj(u) & adj(w))
        .filter(b => adj(b).size >= 2 && adj(b).size <= cap)
      if cs.nonEmpty
    } yield (u, w, cs.size.toLong,
      cs.toSeq.map(units).sum.toDouble / 1.0e12)).toSet
    assert(exp.exists(t => t._1 == big || t._2 == big),
      "fixture must score at least one pair involving the big id")
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    try {
      val got = gt.adamicAdar(maxDegree = cap).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === exp)
    } finally gt.unpersist()
  }

  test("adamicAdar refuses a directed feed and a degenerate cap") {
    import spark.implicits._
    val gt = Graph.buildGraphTable(
      Seq(1L -> 2L, 2L -> 3L).toDF("src", "dst"), "src", "dst")
    try {
      assert(intercept[IllegalArgumentException](gt.adamicAdar())
        .getMessage.contains("symmetric"))
    } finally gt.unpersist()
    val sym2 = Seq(1L -> 2L, 2L -> 1L)
    val gt2 = Graph.buildGraphTable(
      sym2.toDF("src", "dst"), "src", "dst")
    try {
      assert(intercept[IllegalArgumentException](
        gt2.adamicAdar(maxDegree = 1)).getMessage.contains("maxDegree"))
    } finally gt2.unpersist()
  }

  test("modularity: two triangles + bridge match the hand formula; " +
    "one community scores zero") {
    import spark.implicits._
    val und = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L,
      6L -> 4L, 3L -> 4L)
    val sym = und ++ und.map(_.swap)
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    try {
      val labels = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L,
        4L -> 20L, 5L -> 20L, 6L -> 20L).toDF("node", "lbl")
      val got = gt.modularity(labels).head()
      // per community: ein = 6 directed, deg sum = 2+2+3 = 7, m = 14
      val term = r12(6.0 / 14.0 - (7.0 / 14.0) * (7.0 / 14.0))
      assert(got.getDouble(0) === (term + term).toDouble)
      assert(got.getLong(1) === 2L)
      assert(got.getLong(2) === 14L)
      // everything in one community: Q = m/m - 1^2 = 0
      val one = gt.modularity(
        (1L to 6L).map(_ -> 99L).toDF("node", "lbl")).head()
      assert(one.getDouble(0) === 0.0)
      assert(one.getLong(1) === 1L)
    } finally gt.unpersist()
  }

  test("modularity over PARQUET-round-tripped label-prop labels is " +
    "bit-identical to scoring the in-flight labels (the q164 artifact)") {
    import spark.implicits._
    val und = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L,
      6L -> 4L, 3L -> 4L)
    val sym = und ++ und.map(_.swap)
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst").repartition(3), "src", "dst",
      assumeDistinct = true)
    try {
      val labels = Graph.labelPropagationImpl(gt, iters = 5)
      val dir = java.nio.file.Files.createTempDirectory("lbl").toString
      labels.write.mode("overwrite").parquet(dir)
      val inline = gt.modularity(labels).head()
      val loaded = gt.modularity(spark.read.parquet(dir)).head()
      assert(loaded.getDouble(0) === inline.getDouble(0))
      assert(loaded.getLong(1) === inline.getLong(1))
      assert(loaded.getLong(2) === inline.getLong(2))
    } finally gt.unpersist()
  }

  test("bipartiteProject matches the shared-right replica; hubs drop") {
    import spark.implicits._
    val rnd = new scala.util.Random(41L)
    val pairs = (for (_ <- 1 to 300) yield
      (rnd.nextInt(20).toLong, rnd.nextInt(12).toLong)).distinct
    // a hub right node incident to EVERY left — must not contribute
    val hub = (0L until 20L).map(l => (l, 99L))
    val all = pairs ++ hub
    val cap = 15
    val byRight = all.groupBy(_._2).view
      .mapValues(_.map(_._1).distinct).toMap
    assert(byRight(99L).size > cap)
    val exp = byRight.values.filter(_.size <= cap)
      .flatMap(ls => for {
        a <- ls; b <- ls if a < b
      } yield (a, b))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .map { case ((a, b), w) => (a, b, w) }.toSet
    val got = Graph.bipartiteProject(
        all.toDF("l", "r").repartition(3), "l", "r", maxRightDegree = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === exp)
    // left ids >= 2^31 fail the packed pair kernel's id-range probe and
    // take the self-join form, which must give the same pairs and weights
    val big = 1L << 31
    val gotSelfJoin = Graph.bipartiteProject(
        all.map { case (l, r) => (l + big, r) }.toDF("l", "r").repartition(3),
        "l", "r", maxRightDegree = cap)
      .collect().map(r => (r.getLong(0) - big, r.getLong(1) - big,
        r.getLong(2))).toSet
    assert(gotSelfJoin === exp)
    assert(intercept[IllegalArgumentException](
      Graph.bipartiteProject(all.toDF("l", "r"), "l", "r", 1))
      .getMessage.contains("maxRightDegree"))
  }

  test("appendToGraphTable: append ≡ rebuild, unweighted and weighted") {
    import spark.implicits._
    def artDir(tag: String): String = {
      val d = java.nio.file.Files
        .createTempDirectory(s"graft_gapp_$tag").toString
      new java.io.File(d).deleteOnExit(); d
    }
    // unweighted: re-appending known edges must be a set-union no-op
    val e1 = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val e2 = Seq(2L -> 3L, 3L -> 4L, 4L -> 1L) // overlaps e1 on (2,3)
    val p1 = artDir("u")
    Graph.writeGraphTable(e1.toDF("src", "dst"), "src", "dst", p1)
    Graph.appendToGraphTable(spark, p1, e2.toDF("src", "dst"), "src", "dst")
    val got = Graph.readGraphTable(spark, p1)
    val want = Graph.buildGraphTable(
      (e1 ++ e2).toDF("src", "dst"), "src", "dst")
    try {
      assert((got.numNodes, got.numSrcNodes, got.numEdges) ===
        ((want.numNodes, want.numSrcNodes, want.numEdges)))
      assert(got.edges.orderBy("src", "dst").collect().toSeq ===
        want.edges.orderBy("src", "dst").collect().toSeq)
    } finally want.unpersist()
    // weighted: batch weights SUM into existing pair weights
    val w1 = Seq((1L, 2L, 2.0), (2L, 3L, 1.0))
    val w2 = Seq((1L, 2L, 3.0), (3L, 1L, 1.5))
    val p2 = artDir("w")
    Graph.writeGraphTable(w1.toDF("src", "dst", "w"), "src", "dst", p2,
      weightCol = Some("w"))
    Graph.appendToGraphTable(spark, p2, w2.toDF("src", "dst", "w"),
      "src", "dst", weightCol = Some("w"))
    val gotW = Graph.readGraphTable(spark, p2)
    val wantW = Graph.buildGraphTable(
      (w1 ++ w2).toDF("src", "dst", "w"), "src", "dst",
      weightCol = Some("w"))
    try {
      assert(gotW.edges.orderBy("src", "dst").collect().toSeq ===
        wantW.edges.orderBy("src", "dst").collect().toSeq)
    } finally wantW.unpersist()
    // missing artifact fails loudly
    val e = intercept[IllegalArgumentException](
      Graph.appendToGraphTable(spark, "/nonexistent/graft_gapp",
        e1.toDF("src", "dst"), "src", "dst"))
    assert(e.getMessage.contains("no graph artifact"))
  }

  test("kCore returns empty when k exceeds every degree") {
    import spark.implicits._
    val sym = randomSym(20, 40, seed = 3L)
    val gt = Graph.buildGraphTable(
      sym.toDF("src", "dst"), "src", "dst", assumeDistinct = true)
    try assert(gt.kCore(1000, maxRounds = 10).count() === 0L)
    finally gt.unpersist()
  }
}

object GraphSpec {

  /** Builds a graph table from `edges` (columns src and dst, and the
    * weight column `weightCol` names), applies `f` to it and releases
    * the table: what a caller holding raw edges does. */
  def onTable[A](edges: org.apache.spark.sql.DataFrame,
      weightCol: Option[String] = None)(f: GraphTable => A): A = {
    val gt = Graph.buildGraphTable(edges, "src", "dst", weightCol)
    try f(gt) finally gt.unpersist()
  }
}
