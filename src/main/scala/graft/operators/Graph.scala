package graft.operators

import java.math.{BigDecimal => JBD}
import java.math.RoundingMode.HALF_UP

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType,
  IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.sources.Artifacts

/** Prebuilt graph scaffolding: the distinct (optionally weighted) edge
  * list with per-source out-weight totals attached, the node list with
  * a source flag, and the three counts every algorithm needs. Build it
  * once ([[Graph.buildGraphTable]]), or persist it as a parquet
  * artifact ([[Graph.writeGraphTable]] / [[Graph.readGraphTable]] —
  * the persisted PQ/IVF-index precedent applied to graphs) and run
  * every iterative algorithm against the same artifact: at 100 TB the
  * distinct+degree+node-list scaffolding is a full pass over the edge
  * pipeline, and a deployment builds it once and iterates many, not
  * once per query.
  *
  * Schema contract (what [[Graph.readGraphTable]] expects):
  *  - `edges`:  (src, dst, w DOUBLE, wout DOUBLE) — distinct pairs;
  *    `w` is 1.0 for unweighted graphs, `wout` = Σw over the source's
  *    out-edges (12-dp DECIMAL sum cast to double — exact and
  *    order-independent; for unweighted graphs exactly the out-degree).
  *  - `nodes`:  (node, is_src BOOLEAN) — src ∪ dst nodes; a node with
  *    `is_src = false` has in-edges but no out-edges (a sink).
  *
  * `cached` records whether the frames are persisted (built in-memory)
  * or plain parquet reads (loaded artifact). No iterative algorithm
  * re-scans `edges` per round either way: the driver twins lift it
  * once into [[Graph.DriverHarness]]'s cache, the distributed bodies
  * into [[Graph.VertexProgram]]'s repartitioned one.
  */
final case class GraphTable(
    edges: DataFrame,
    nodes: DataFrame,
    numNodes: Long,
    numSrcNodes: Long,
    numEdges: Long,
    cached: Boolean) {

  /** Sinks: nodes with in-edges but no out-edges. */
  def numDangling: Long = numNodes - numSrcNodes

  /** Damped PageRank over the table's directed edges.
    *
    * Dangling nodes (nodes with in-edges but no out-edges) leak rank
    * mass if ignored, so the operator never ignores them: with
    * `danglingCorrection = true` their mass is redistributed uniformly
    * each round (the standard correction — rank sums stay ~1 and sinks
    * participate as first-class nodes); with it false (the cheap path
    * for graphs that cannot have sinks, e.g. an undirected graph fed
    * as both edge directions), the operator REQUIRES the no-sink
    * precondition and fails loudly instead of silently producing wrong
    * ranks on the first directed feed. (The check reads
    * [[numDangling]], already counted at build time, so it is free.)
    *
    * On a weighted table (built with a `weightCol`), a contribution is
    * rank·w/Σw over the source's out-edges instead of rank/outdeg
    * (uniform weights reproduce the unweighted ranks bit-for-bit: w = 1
    * makes rank·1.0/Σ1.0 the same IEEE expression as rank/outdeg).
    *
    * Scale posture — TWO loop bodies behind one set of semantics,
    * picked by node count: the threshold is
    * `spark.graft.graph.maxDriverRankNodes` (default 2M — see
    * [[Graph.maxDriverRankNodes]]):
    *
    *  - driver-resident (the small-N fast path, on the
    *    [[Graph.DriverHarness]]): each round broadcasts the N-entry rank
    *    array into the lifted edge partitions (the edges never move)
    *    and folds contributions into per-partition DENSE arrays of
    *    exact 12-dp decimals — ONE zero-shuffle task wave per round,
    *    merged exactly. The rank array lives on the driver between rounds:
    *    broadcasting it already collects all N ranks driver-side every
    *    round, so driver residency adds no new constraint. Cap: N must
    *    fit the driver/executor broadcast envelope — which is exactly
    *    what the auto-switch threshold encodes.
    *
    *  - distributed rank table (the 100-TB path, on the
    *    [[Graph.VertexProgram]]): the rank table NEVER visits the driver.
    *    Each round gathers the rank table into the cached edges
    *    (out-weights pre-attached), sums contributions in a
    *    partial/final DECIMAL aggregate on `dst`, and left-joins them
    *    back onto the cached node list. The dangling mass is a ONE-ROW
    *    aggregate cross-joined into the update — a plan, not a
    *    collect: no loop step moves more than a broadcast-sized
    *    payload to the driver, so the plan's ceiling is cluster
    *    memory/disk, not the driver heap. (GraphSpec asserts via a
    *    QueryExecutionListener that the distributed loop performs zero
    *    `collect` actions, and that both bodies produce bit-identical
    *    ranks.)
    *
    * Convergence: `iters` is the hard round cap. With
    * `epsilon = Some(eps)` the loop additionally stops as soon as
    * max |Δrank| <= eps after a round (inclusive boundary — the same
    * fixpoint discipline as the K-Means loop's A7 semantics, where the
    * `<=` edge counts as converged). The fixed-iteration behavior
    * (`epsilon = None`) is exactly the pre-flag semantics. The epsilon
    * check is a one-row aggregate per round (a bounded scalar action,
    * the K-Means-convergence category, never an N-row collect).
    *
    * Determinism: per-edge contributions are rounded to 12 dp and
    * summed as DECIMAL(38,12) (exact and associative, so the result is
    * independent of partitioning and merge order); the dangling mass
    * uses the same 12-dp DECIMAL device before one double division by
    * N; the damped update `(1-d)/N + d·(s + dm/N)` is the same
    * fixed-association double arithmetic whether evaluated per-row by
    * codegen or per-node on the driver (the [[Graph.DriverHarness]]
    * argument: both sides round HALF_UP, losslessly). By induction every
    * iteration's rank column is bit-identical across the two loop
    * bodies and any engine that evaluates the same tree. With
    * `danglingCorrection = false` the `+ dm/N` term is absent
    * entirely, preserving the pre-flag semantics.
    */
  def pageRank(
      iters: Int,
      damping: Double = 0.85,
      danglingCorrection: Boolean = false,
      epsilon: Option[Double] = None): DataFrame =
    Graph.pageRankImpl(this, iters, damping, danglingCorrection, epsilon)

  /** Personalized (topic-sensitive) PageRank: the reset mass lands on
    * the `seeds` distribution instead of uniformly — rank measures
    * proximity to the seed set (the standard seed-biased relevance
    * device: related-document discovery from a trusted subset,
    * authority propagation from labeled-good domains in a curation
    * pipeline). Semantics per Haveliwala 2002 / the standard PPR
    * formulation:
    *
    *   rank'(v) = (1−d)·r(v) + d·(Σ_{u→v} rank(u)·w/Σw + dm·r(v))
    *
    * with r(v) = 1/|S| for v ∈ S else 0, and dm = the total dangling
    * (sink) mass — redistributed over the SEED distribution, so rank
    * mass is conserved and teleports never leak to unrelated nodes.
    * Initial ranks are r itself. Contributions are out-weight-
    * normalized (rank/outdeg on unweighted graphs).
    *
    * Scale posture: TWO loop bodies behind one set of semantics, the
    * [[pageRank]] discipline, picked by node count against
    * [[Graph.maxDriverRankNodes]]:
    *
    *  - distributed (the 100-TB path): [[pageRank]]'s rank loop on the
    *    [[Graph.VertexProgram]], the rank table carrying the per-node
    *    reset weight alongside (computed once from a seed semi-join;
    *    seeds are a DataFrame, not a driver collection, so the seed set
    *    itself can be large). No driver collect anywhere (GraphSpec's
    *    listener assertion pins this body).
    *
    *  - driver-resident (the small-N fast path): the
    *    [[Graph.DriverHarness]] — the reset weights join is collected as
    *    the N-bounded node table (bounded by N whatever the seed
    *    cardinality), and each round is one zero-shuffle task wave
    *    with the sink mass summed on the driver.
    *
    * Determinism: the same 12-dp DECIMAL contribution sums and 9-dp
    * HALF_UP damped update as [[pageRank]], with the fixed association
    * `(1−d)·r + d·(s + dm·r)` — bit-replayable in any IEEE engine
    * (the q113 oracle), and bit-identical across the two bodies by
    * the [[Graph.DriverHarness]] argument. Both bodies are
    * [[pageRank]]'s rank loops with a different node table and update.
    */
  def personalizedPageRank(
      seeds: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      epsilon: Option[Double] = None): DataFrame =
    Graph.personalizedPageRankImpl(this, seeds, iters, damping, epsilon)

  /** HITS (hubs & authorities), Kleinberg 1999 — the Jacobi
    * (simultaneous-update) variant: each round computes BOTH scores
    * from the previous round's values,
    *
    *   auth'(v) = N₁( Σ_{u→v} hub(u) ),   hub'(v) = N₁( Σ_{v→w} auth(w) )
    *
    * with N₁ = L1 normalization (divide by the global sum, so each
    * score vector stays a distribution). The Gauss–Seidel textbook
    * ordering (hub from the NEW auth) converges to the same principal
    * singular vectors; the Jacobi form is chosen because every round
    * is a pure function of the previous one — replayable row-wise in
    * a recursive-CTE oracle (the q114 device), and the natural shape
    * for a distributed engine anyway (no intra-round dependency).
    *
    * Convergence: `iters` is the hard round cap; with
    * `epsilon = Some(eps)` the loop additionally stops at the first
    * round where max over nodes of max(|Δauth|, |Δhub|) <= eps
    * (inclusive — the same A7 fixpoint discipline as [[pageRank]]'s
    * epsilon; the check is a one-row aggregate per round).
    *
    * Scale posture: the distributed rank-table body again, with the
    * two gathers FUSED: ONE bidirectional edge cache holds each edge
    * twice — (src→dst, auth side) and (dst→src, hub side) — so a
    * round is ONE join of the score table against the cache and ONE
    * (node, conditional-sum × 2) aggregate, instead of two separately
    * cached edge tables each shuffling the scores per round (same row
    * volume through the exchanges, HALF the jobs/stages per round —
    * HitsSpec asserts the job count). Contributions are 12-dp DECIMAL
    * sums (exact, associative — the conditional split sums exactly
    * the same term multisets as the separate gathers, so scores are
    * bit-identical), the L1 totals are one-row aggregates cross-joined
    * in (a plan, not a collect), and scores are 9-dp rounded, on the
    * [[Graph.VertexProgram]]. No driver collect anywhere in the
    * distributed body. Like [[pageRank]], TWO loop bodies behind
    * one set of semantics, picked by node count against
    * [[Graph.maxDriverRankNodes]]: the driver-resident twin folds BOTH
    * gathers in one zero-shuffle task wave per round on the
    * [[Graph.DriverHarness]], bit-identical by its argument since the
    * gathers sum identical 12-dp addend multisets and the L1 divide +
    * 9-dp round is the same IEEE expression either way.
    *
    * Returns (node, auth, hub), authorities first. */
  def hits(iters: Int, epsilon: Option[Double] = None): DataFrame =
    Graph.hitsImpl(this, iters, epsilon)

  /** Synchronous (Jacobi) label-propagation community detection,
    * Raghavan et al. 2007 adapted to a deterministic simultaneous
    * update: every node starts with its own id as label; each round,
    * a node with at least one in-edge takes the most frequent label
    * among its in-neighbors' PREVIOUS-round labels, ties broken to
    * the smallest label; nodes with no in-edges keep their label. For
    * community detection feed the graph undirected (both directions —
    * in-neighbors = neighbors), the [[Components]] convention. Runs a
    * fixed `iters` rounds: the Jacobi form plus deterministic
    * tie-break makes every round a pure function of the previous one
    * — row-replayable in a recursive-CTE oracle (the q117 device) —
    * at the cost of possible 2-cycles on bipartite structures, which
    * a fixed round count simply samples.
    *
    * Scale posture: the distributed body runs on the
    * [[Graph.VertexProgram]] — per round one gather of the labels into
    * the edges, an exact (dst, label) count aggregate, a per-node
    * argmax via one `min(struct(-cnt, label))` aggregate (no window, no
    * collect — all counts are exact longs, so no rounding device is
    * even needed), and a co-partitioned left join back onto the label
    * table.
    *
    * Returns (node, label) ordered by node. */
  def labelPropagation(iters: Int): DataFrame =
    Graph.labelPropagationImpl(this, iters)

  def triangleCounts(): DataFrame = Graph.triangleCountsImpl(this)

  def triangleCountEstimate(keepPct: Int, seed: Long): DataFrame =
    Graph.triangleCountEstimateImpl(this, keepPct, seed)

  def clusteringCoefficient(): DataFrame =
    Graph.clusteringCoefficientImpl(this)

  def kCore(k: Int, maxRounds: Int): DataFrame =
    Graph.kCoreImpl(this, k, maxRounds)

  def bfsLevels(seeds: DataFrame, maxDepth: Int): DataFrame =
    Graph.bfsLevelsImpl(this, seeds, maxDepth)

  def shortestPaths(seeds: DataFrame, maxRounds: Int): DataFrame =
    Graph.shortestPathsImpl(this, seeds, maxRounds)

  def edgeJaccard(): DataFrame = Graph.edgeJaccardImpl(this)

  def adamicAdar(maxDegree: Int = Int.MaxValue): DataFrame =
    Graph.adamicAdarImpl(this, maxDegree)

  def modularity(labels: DataFrame): DataFrame =
    Graph.modularityImpl(this, labels)

  /** Release the build-time caches (no-op on a loaded artifact). */
  def unpersist(): Unit =
    if (cached) {
      edges.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      ()
    }
}

/** Graph analytics behind [[GraphTable]]'s methods: build a table
  * once from an edge DataFrame ([[Graph.buildGraphTable]]) or read a
  * persisted one ([[Graph.readGraphTable]]), then run every algorithm
  * on it (the connected-components sibling lives in [[Components]]). */
object Graph {

  private val Dec12 = DecimalType(38, 12)

  /** Target rows per task inside the iterative rank-table loops. The
    * per-round working sets (E contribution rows, N rank rows) are
    * latency-bound, not throughput-bound — at small graphs, 32 tasks
    * of a few thousand rows each cost more in scheduling barriers
    * than in work (measured: q107 6.9 → 4.0 s at sf0.1 when the
    * round stages drop from 32 to ~4 tasks). */
  private val iterRowsPerTask = 250000L

  /** Shuffle-partition count for an iterative body over `rows`-row
    * working sets: ⌈rows / target⌉, clamped to [1, `ceiling`] — the
    * session setting. It stays the CEILING: on a cluster where the
    * operator sized `spark.sql.shuffle.partitions` to the data,
    * rows/target far exceeds it and behavior is unchanged; only
    * small-graph rounds get fewer, larger tasks. */
  private def iterPartitions(ceiling: Int, rows: Long): Int =
    math.max(1L, math.min(ceiling.toLong,
      (rows + iterRowsPerTask - 1) / iterRowsPerTask)).toInt

  /** Per-session monitor for [[withShufflePartitions]]: two wrapped
    * calls on the same session from different threads must not
    * interleave their save/set/restore (an interleave could leave the
    * session permanently at a scoped value). Weak keys so a retired
    * session doesn't pin its lock object. */
  private val confScopeLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Object]())

  /** Run `f` with `spark.sql.shuffle.partitions` scoped to `p`,
    * restoring the previous value after. Every action the iterative
    * bodies run (per-round eager checkpoints, cache-priming counts,
    * epsilon probes) executes inside `f`, so all their exchanges —
    * including the groupBy aggregates the DataFrame API gives no
    * partition-count handle for — plan at `p`. Results are unchanged
    * by construction: every accumulation in these bodies is either
    * integer-exact or a 12-dp-rounded DECIMAL sum (exact and
    * associative), so partitioning cannot move a bit.
    *
    * Concurrency contract: scoped regions on the same session are
    * SERIALIZED (per-session monitor), so overlapping wrapped calls
    * cannot interleave save/restore; and the restore is conditional —
    * if something else changed the conf while `f` ran, that outside
    * write wins rather than being clobbered by our stale saved value.
    * Unrelated user queries planned on the same session WHILE a scoped
    * region runs still see the scoped value — inherent to session-conf
    * scoping and documented here; callers that interleave foreign
    * queries with iterative graph calls should use separate
    * `SparkSession.newSession()` handles (isolated conf, shared
    * context). */
  private def withShufflePartitions[A](
      spark: org.apache.spark.sql.SparkSession, p: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val lock = confScopeLocks.computeIfAbsent(spark, _ => new Object)
    lock.synchronized {
      val old = spark.conf.get(key)
      if (old == p.toString) f
      else {
        spark.conf.set(key, p.toString)
        try f finally {
          if (spark.conf.get(key) == p.toString) spark.conf.set(key, old)
        }
      }
    }
  }

  /** Node count above which [[GraphTable.pageRank]] auto-selects the
    * distributed rank-table loop body (the rank table must fit the driver/broadcast
    * envelope on the driver-resident body — ~16 bytes a row broadcast
    * plus map overhead driver-side, so 2M nodes ≈ tens of MB broadcast
    * and a few hundred MB of driver heap: comfortably inside a default
    * driver, and well past the point where the distributed body's
    * per-round overhead has amortized). Override with
    * `spark.graft.graph.maxDriverRankNodes`.
    *
    * Scale note (the 100 TB posture): the switch is only as good as
    * this node-count probe, and the probe is FREE and EXACT — it reads
    * [[GraphTable.numNodes]], counted once at artifact build/load time
    * (meta row), never re-scanned per query. At 100× today's graphs
    * every directed-family call crosses the 2M default and lands on
    * the distributed body (listener-proven zero driver collects); the
    * driver-resident body is strictly a small-graph latency
    * optimization, never load-bearing for correctness. */
  def maxDriverRankNodes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.maxDriverRankNodes")
      .map(_.toLong).getOrElse(2000000L)

  // ------------------------------------------------------ graph table

  /** Build the reusable scaffolding from a raw edge list: distinct the
    * pairs (skippable via `assumeDistinct`; with a `weightCol`,
    * parallel edges instead COMBINE by weight sum — 12-dp DECIMAL, so
    * the combined weight is partition-order-independent), attach the
    * per-source out-weight total via a broadcast of the one-row-per-
    * source totals (the E-row side never shuffles), and flag source
    * nodes. Frames come back persisted (MEMORY_AND_DISK) and counted;
    * release with [[GraphTable.unpersist]] when done. */
  def buildGraphTable(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String] = None,
      assumeDistinct: Boolean = false): GraphTable = {
    val e0 = weightCol match {
      case None =>
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      case Some(w) =>
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
          col(w).cast("double").as("w"))
    }
    val eD = (if (assumeDistinct) e0
      else weightCol match {
        case None => e0.distinct()
        case Some(_) =>
          e0.groupBy("src", "dst")
            .agg(sum(round(col("w"), 12).cast(Dec12)).cast("double")
              .as("w"))
      }).persist(StorageLevel.MEMORY_AND_DISK)
    val withW =
      if (weightCol.isDefined) eD else eD.withColumn("w", lit(1.0))
    // out-weight totals are one row per source node — broadcast them
    // back onto the edge list so the E-row side never shuffles.
    // (A fused single-aggregate variant — node list, is_src, and
    // out-weights in ONE tagged union agg, counts derived — measured
    // WORSE at sf0.1 (append 1.7→2.6 s warm): it serializes what the
    // two concurrent jobs below overlap, and the od pass it removes
    // was the cheap one. Kept the overlapped two-job shape.)
    val od = weightCol match {
      case None =>
        eD.groupBy("src")
          .agg(count(lit(1)).cast("double").as("wout"))
      case Some(_) =>
        eD.groupBy("src")
          .agg(sum(round(col("w"), 12).cast(Dec12)).cast("double")
            .as("wout"))
    }
    val edgesFull = withW.join(broadcast(od), "src")
      .select(col("src"), col("dst"), col("w"), col("wout"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE shuffle for the node list: a node is a source iff it ever
    // appears on the src side, so max(is_src) over the tagged union
    // of both endpoint columns is exactly the old distinct+anti-join
    // derivation (3 shuffles) — partial aggregation collapses the 2E
    // tagged rows to distinct nodes map-side before the exchange.
    val nodesDf = eD.select(col("src").as("node"), lit(true).as("is_src"))
      .unionByName(eD.select(col("dst").as("node"),
        lit(false).as("is_src")))
      .groupBy("node")
      .agg(max(col("is_src")).as("is_src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The two count actions share the eD cache (block-level locks:
    // first computes, the other reuses) and are independent jobs —
    // overlap them instead of leaving 32 cores half-idle twice.
    import scala.concurrent.ExecutionContext.Implicits.global
    val numEdgesF = Future(edgesFull.count()) // also materializes eD
    val cntsF = Future(nodesDf
      .agg(count(lit(1)).as("n"),
        count(when(col("is_src"), lit(1))).as("ns"))
      .head())
    val numEdges = Await.result(numEdgesF, Duration.Inf)
    val cnts = Await.result(cntsF, Duration.Inf)
    eD.unpersist(blocking = false)
    GraphTable(edgesFull, nodesDf, cnts.getLong(0), cnts.getLong(1),
      numEdges, cached = true)
  }

  /** Write the scaffolding as a parquet artifact at `path`
    * (`edges/`, `nodes/`, one-row `meta/`) — build once, iterate many:
    * the artifact read replays NO distinct/degree/node shuffles, only
    * column-pruned scans. */
  def writeGraphTable(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      path: String,
      weightCol: Option[String] = None,
      assumeDistinct: Boolean = false): Unit = {
    val spark = edges.sparkSession
    val gt = buildGraphTable(edges, srcCol, dstCol, weightCol,
      assumeDistinct)
    try publishGraphArtifact(spark, path, gt)
    finally gt.unpersist()
  }

  /** Publish a built [[GraphTable]] as the next artifact version.
    * The three component writes read already-persisted frames and are
    * mutually independent jobs, so they run CONCURRENTLY — same
    * rationale as the parallel scaffold build: each write alone is a
    * small job that underutilizes the cluster, and on a real cluster
    * overlapping them hides each table's commit/IO latency behind
    * another's compute. */
  private def publishGraphArtifact(
      spark: SparkSession, path: String, gt: GraphTable): Unit = {
    import spark.implicits._
    // NOTE (measured, round 15): coalescing these writes to
    // row-count-sized file counts (the iterPartitions heuristic) was
    // tried and REVERTED — at sf0.1 the compact layout collapses the
    // artifact's read side to a single scan split (open-cost packing),
    // serializing every consumer's first pass (q130's rank phase
    // 1.6 → 3.2 s, q98/q102 similarly); the commit-overhead saving was
    // ~0.2 s. Ambient-partition writes keep the read side parallel.
    Artifacts.publishVersion(spark, path) { vdir =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val writes = Seq(
        Future(gt.edges.write.mode("overwrite").parquet(s"$vdir/edges")),
        Future(gt.nodes.write.mode("overwrite").parquet(s"$vdir/nodes")),
        Future(Seq((gt.numNodes, gt.numSrcNodes, gt.numEdges))
          .toDF("n_nodes", "n_src", "n_edges")
          .coalesce(1).write.mode("overwrite").parquet(s"$vdir/meta")))
      try writes.foreach(Await.result(_, Duration.Inf))
      finally pool.shutdown()
    }
  }

  /** Merge a new edge batch into a persisted graph artifact — the
    * IVF-append lifecycle applied to graphs: a deployment builds the
    * artifact once from the raw feed and then folds in edge deltas
    * without re-running the raw-feed extraction pipeline (at 100 TB
    * the joins/distincts producing the edge list from raw logs are
    * the expensive part; the merge below is one pass over artifact +
    * batch).
    *
    * Semantics mirror [[buildGraphTable]]'s: unweighted appends are
    * SET UNION (re-appending a known edge is a no-op); weighted
    * appends SUM the batch's pair weights into the existing ones
    * (12-dp DECIMAL, partition-order-exact — the "purchase count
    * increment" semantics), so append-then-read is bit-identical to
    * rebuilding from the concatenated feeds (GraphSpec proves both).
    * Out-weight totals, the node list, and the meta row are
    * recomputed in the same pass.
    *
    * The merged artifact publishes as the next version
    * ([[graft.sources.Artifacts.publishVersion]]): readers resolve a
    * complete version at any moment, so probes may run concurrently
    * with an append; concurrent APPENDS must still be serialized
    * (single-writer, like any artifact fold). */
  def appendToGraphTable(
      spark: SparkSession,
      path: String,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String] = None): Unit = {
    val vdir = Artifacts.latestDir(spark, path, "graph artifact")
    val existing = spark.read.parquet(s"$vdir/edges")
      .select("src", "dst", "w")
    val merged = weightCol match {
      case None =>
        // the batch needs no pre-distinct of its own: the set-union
        // distinct below already dedupes within the batch and against
        // the artifact — one exchange instead of two
        existing.select("src", "dst")
          .union(edges.select(col(srcCol).as("src"),
            col(dstCol).as("dst")))
          .distinct().withColumn("w", lit(1.0))
      case Some(w) =>
        val batch = edges.select(col(srcCol).as("src"),
            col(dstCol).as("dst"), col(w).cast("double").as("w"))
          .groupBy("src", "dst")
          .agg(sum(round(col("w"), 12).cast(Dec12)).cast("double").as("w"))
        existing.union(batch).groupBy("src", "dst")
          .agg(sum(round(col("w"), 12).cast(Dec12)).cast("double").as("w"))
    }
    val gt = buildGraphTable(merged, "src", "dst",
      weightCol = weightCol.map(_ => "w"), assumeDistinct = true)
    try publishGraphArtifact(spark, path, gt)
    finally gt.unpersist()
  }

  /** Re-open a persisted graph artifact. Counts come from `meta/`
    * (one row), so preconditions (sink check, body auto-selection)
    * cost nothing at query time. */
  def readGraphTable(spark: SparkSession, path: String): GraphTable = {
    val vdir = Artifacts.latestDir(spark, path, "graph artifact")
    val m = spark.read.parquet(s"$vdir/meta")
      .select("n_nodes", "n_src", "n_edges").head()
    GraphTable(
      spark.read.parquet(s"$vdir/edges"),
      spark.read.parquet(s"$vdir/nodes"),
      m.getLong(0), m.getLong(1), m.getLong(2), cached = false)
  }

  // -------------------------------------------------------- PageRank

  /** [[GraphTable.pageRank]]. `distributed` pins a loop body where
    * `None` picks it by node count; specs reach both bodies through it,
    * and q107 runs the distributed one on a graph far below the
    * threshold. [[personalizedPageRankImpl]] and [[hitsImpl]] take the
    * same parameter. */
  private[graft] def pageRankImpl(
      gt: GraphTable,
      iters: Int,
      damping: Double,
      danglingCorrection: Boolean,
      epsilon: Option[Double],
      distributed: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0,1), got $damping")
    epsilon.foreach(e => require(e >= 0.0, s"epsilon must be >= 0, got $e"))
    require(gt.numNodes > 0, "graph has no nodes")
    if (!danglingCorrection)
      // cheap path's precondition: a sink here would silently leak
      // rank mass every round. Free — the counts were taken at build.
      require(gt.numDangling == 0,
        s"${gt.numDangling} node(s) have in-edges but no out-edges; " +
          "their rank mass would silently leak. Pass " +
          "danglingCorrection = true (uniform redistribution) or feed " +
          "sinks their back-edges.")
    // ranks are defined over src nodes on the cheap path (sink-free ⇒
    // src set ⊇ dst set), over src ∪ dst with the correction
    val nL = if (danglingCorrection) gt.numNodes else gt.numSrcNodes
    val srcNodes = gt.nodes.where(col("is_src")).select("node")
    if (distributed.getOrElse(
        nL > maxDriverRankNodes(gt.edges.sparkSession))) {
      // with the correction the SINK FLAG rides the node (and so the
      // rank) table; the uniform share of the sink mass is dm/N
      val n = nL.toDouble
      rankLoopDistributed(gt,
        if (danglingCorrection)
          gt.nodes.select(col("node"), (!col("is_src")).as("sink"))
        else srcNodes,
        lit(1.0 / n), iters, epsilon)(
        dms => dms / lit(n),
        (sd, dmn) => lit((1.0 - damping) / n) + lit(damping) * (sd + dmn))
    } else {
      // non-dangling path: dst ⊆ src is the loud precondition above, so
      // every edge endpoint resolves in the dense index
      val h = new DriverHarness(
        if (danglingCorrection) gt.nodes.select("node") else srcNodes,
        gt.edges.select("src", "dst", "w", "wout"))
      val n = h.nN.toDouble
      // dm = 0.0 without the correction, and s + 0.0 == s (s >= +0.0)
      rankLoopDriver(gt, h, danglingCorrection, Array.fill(h.nN)(1.0 / n),
        iters, epsilon) { (_, s, dm) =>
        (1.0 - damping) / n + damping * (s + dm / n)
      }
    }
  }

  /** One edge partition lifted to dense node indices: parallel
    * primitive columns (`w` / `wout` are empty when the lifted frame
    * has no such column). */
  private final case class EdgeBlock(
      src: Array[Int], dst: Array[Int], w: Array[Double],
      wout: Array[Double])

  /** The driver executor every driver twin runs on (PageRank, PPR,
    * HITS, label propagation, k-core, BFS, shortest paths): round state
    * lives in dense driver arrays indexed by node, and each round is
    * ONE zero-shuffle task wave over edges lifted once.
    *
    *  - `nodes` (node first, then any per-node values the caller reads
    *    back from [[nodeRows]]) is collected once; row i's node gets
    *    dense index i, so a value-ordered `nodes` makes index order
    *    value order.
    *  - `edges` — (src, dst[, w[, wout]]) — is lifted ONCE to one
    *    [[EdgeBlock]] per partition and persisted; every round re-reads
    *    THIS cache, so no round deserializes a row or hashes a key.
    *  - [[wave]] broadcasts the round state, folds each block into a
    *    dense per-partition partial (the map-side combiner taken to its
    *    limit), and merges the partials with [[graft.ExactMerge]]: a
    *    driver collect-fold, or a 2-level treeReduce above 1024 edge
    *    partitions.
    *
    * Bit-identity with the distributed bodies (and so with the
    * recursive-CTE oracles): every partial is exact and every merge
    * associative and commutative, so neither partitioning nor merge
    * shape can move a bit.
    *  - Rank and HITS contributions are 12-dp decimals:
    *    `round(x, 12) CAST DECIMAL(38,12)` equals
    *    `BigDecimal.valueOf(x).setScale(12, HALF_UP)` — the double round
    *    trip is lossless because distinct 12-dp decimals differ by
    *    ≥ 1e-12, orders of magnitude beyond a double's ulp at rank
    *    magnitudes, so the shortest-repr cast recovers exactly the
    *    rounded decimal. The per-node sums are the same exact addends
    *    in a different association — equal by associativity.
    *  - Label offers and k-core degrees are exact long counts; BFS
    *    reachability is a boolean or.
    *  - Shortest-path candidates are ONE double add of exact values,
    *    and min over exact doubles is order-free.
    * The driver-side update after each merge is the same IEEE
    * expression the distributed body evaluates per row. */
  private final class DriverHarness(nodes: DataFrame, edges: DataFrame) {
    val spark: SparkSession = edges.sparkSession
    val nodeRows: Array[Row] = nodes.collect()
    val nodeArr: Array[Any] = nodeRows.map(_.get(0))
    val nodeType: DataType = nodes.schema.fields(0).dataType
    val nN: Int = nodeArr.length
    private val idx = new java.util.HashMap[Any, Integer](nN * 2)
    locally {
      var i = 0
      while (i < nN) { idx.put(nodeArr(i), i); i += 1 }
    }
    /** Dense index of a node value; -1 when absent (foreign seeds). */
    def indexOf(v: Any): Int = {
      val r = idx.get(v)
      if (r == null) -1 else r.intValue()
    }

    /** Dense indices of the distinct seeds (first column) present in
      * the graph — foreign seeds are ignored, like the distributed
      * bodies' semi-join. */
    def seedIndices(seeds: DataFrame): Array[Int] =
      seeds.select(col(seeds.columns.head).as("node")).distinct()
        .collect().map(r => indexOf(r.get(0))).filter(_ >= 0)

    private val bcIdx = spark.sparkContext.broadcast(idx)
    private val blocks = {
      val bc = bcIdx // local alias: the task closure must not drag
                     // the (non-serializable) harness in via `this`
      val arity = edges.columns.length
      edges.rdd.mapPartitions { rows =>
        val m = bc.value
        val si = new scala.collection.mutable.ArrayBuilder.ofInt
        val di = new scala.collection.mutable.ArrayBuilder.ofInt
        val wv = new scala.collection.mutable.ArrayBuilder.ofDouble
        val wo = new scala.collection.mutable.ArrayBuilder.ofDouble
        rows.foreach { r =>
          si += m.get(r.get(0)).intValue()
          di += m.get(r.get(1)).intValue()
          if (arity > 2) wv += r.getDouble(2)
          if (arity > 3) wo += r.getDouble(3)
        }
        Iterator.single(EdgeBlock(si.result(), di.result(), wv.result(),
          wo.result()))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    }
    blocks.count() // materialize once; every wave reads the cache

    /** One round: broadcast `state`, fold each block into a partial,
      * merge the partials exactly ([[graft.ExactMerge.merge]]: `merge`
      * combines any batch of partials into a fresh or reused one, and
      * must accept an empty batch). The broadcast is destroyed after
      * the merge: `unpersist` would keep the driver's copy (in local
      * mode the only one), and no later job reads this wave. It returns
      * once the removal is done. */
    def wave[S: ClassTag, P: ClassTag](state: S)(
        fold: (S, EdgeBlock) => P)(merge: Seq[P] => P): P = {
      val bc = spark.sparkContext.broadcast(state)
      try graft.ExactMerge.merge(blocks.map(b => fold(bc.value, b)))(merge)
      finally org.apache.spark.sql.graftshim.destroyBlocking(bc)
    }

    /** The result frame: `node` plus one (name, type, value-at-index)
      * column each, over the dense indices `keep` accepts. */
    def frame(keep: Int => Boolean,
        cols: (String, DataType, Int => Any)*): DataFrame = {
      val schema = StructType(
        StructField("node", nodeType, nullable = false) +:
          cols.map(c => StructField(c._1, c._2, nullable = false)))
      val rows = (0 until nN).filter(keep)
        .map(i => Row.fromSeq(nodeArr(i) +: cols.map(_._3(i))))
      spark.createDataFrame(rows.asJava, schema)
    }

    def release(): Unit = {
      blocks.unpersist(blocking = false)
      org.apache.spark.sql.graftshim.destroyBlocking(bcIdx)
    }
  }

  /** The round cap and halt test of every graph loop, driver twin or
    * [[VertexProgram]]: up to `maxRounds` rounds from `s0` —
    * `step(s, r)` builds round r's state (0-based), then `halt(s, next)`
    * decides whether to stop (never asked when `halted`). Returns the
    * final state and whether `halt` fired. */
  private[operators] def rounds[S](
      s0: S, maxRounds: Int, halted: Boolean = false)(
      step: (S, Int) => S)(halt: (S, S) => Boolean): (S, Boolean) = {
    var s = s0
    var done = halted
    var r = 0
    while (r < maxRounds && !done) {
      val next = step(s, r)
      done = halt(s, next)
      s = next
      r += 1
    }
    (s, done)
  }

  /** The distributed executor every distributed graph loop runs on
    * (PageRank and PPR through the shared rank loop, HITS, label
    * propagation, k-core, BFS, shortest paths, and
    * [[Components.connectedComponents]]) — the counterpart of
    * [[DriverHarness]]. Round state stays in hash-partitioned,
    * per-round-checkpointed DataFrames; the driver never holds a row of
    * it. [[vertexProgram]] opens one and owns its lifetime.
    *
    *  - `edges` is the body's edge projection, hash-partitioned on the
    *    gather key and persisted once, so only the state side of
    *    [[gather]] ever moves. `nodes`, when the body has a node
    *    domain, is cached beside it on `node`; the body's left joins
    *    back onto it need no exchange on that side.
    *  - [[checkpoint]] materializes a state frame eagerly and keeps the
    *    executed plan's hash partitioning visible (graftshim device): a
    *    plain `localCheckpoint` reports UnknownPartitioning under AQE,
    *    which re-exchanged a key-partitioned state table every round.
    *    It falls back to the plain checkpoint when the executed plan
    *    reports no single hash partitioning (e.g. after a union). The
    *    truncated lineage keeps the analyzed plan O(1) per round — a
    *    persist chain would double it each round wherever a round reads
    *    its state twice.
    *  - [[loop]] runs the rounds: after each round's halt test it
    *    releases every checkpoint taken before that round. A state may
    *    start lazy (the rank loop's round 0 over the node cache, k-core's
    *    over the edge cache); nothing is released for it.
    *
    * A body declares only what differs: its initial state, its edge
    * message and exact combine over [[gather]], its apply step (the
    * frames it [[checkpoint]]s) and its halt test. Local checkpoints
    * forgo lineage replay: a lost block fails the call (a production
    * cluster that must survive executor loss points
    * `sparkContext.setCheckpointDir` at reliable storage). */
  private[operators] final class VertexProgram(
      edgeProj: DataFrame, gatherKey: String, nodeProj: Option[DataFrame]) {
    val edges: DataFrame = edgeProj.repartition(col(gatherKey))
      .persist(StorageLevel.MEMORY_AND_DISK)
    private val nodeCache = nodeProj.map(_.repartition(col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    /** Checkpoints taken and not yet released. */
    private var live = List.empty[RDD[_]]
    private var edgeRows = -1L

    /** The cached node domain (bodies that declared one). */
    def nodes: DataFrame = nodeCache.get

    /** The edge cache's row count, from its priming job. */
    def numEdgeRows: Long = edgeRows

    /** The sending state rows (keyed `node`) joined to their edges: a
      * shuffled-hash join whose state side builds and whose edge side
      * streams from the cache. */
    def gather(state: DataFrame): DataFrame =
      edges.join(state.hint("shuffle_hash"), col(gatherKey) === col("node"))

    def checkpoint(df: DataFrame): DataFrame = {
      val c = org.apache.spark.sql.graftshim.localCheckpointPartitioned(df)
      live = rddsOf(c).toList ++ live
      c
    }

    /** [[rounds]], releasing after each round's halt test every
      * checkpoint taken before that round. */
    def loop[S](s0: S, maxRounds: Int, halted: Boolean = false)(
        step: (S, Int) => S)(halt: (S, S) => Boolean): (S, Boolean) = {
      var older = Set.empty[RDD[_]]
      rounds(s0, maxRounds, halted) { (s, r) =>
        older = live.toSet
        step(s, r)
      } { (s, next) =>
        val done = halt(s, next)
        release(keep = !older(_))
        done
      }
    }

    /** Primes both caches at once: independent jobs, each alone
      * underutilizing the cluster, and the N-row one rides inside the
      * E-row one's tail. */
    private[Graph] def prime(): Unit = {
      val fn = nodeCache.map(n => Future(n.count())(ExecutionContext.global))
      edgeRows = edges.count()
      fn.foreach(Await.result(_, Duration.Inf))
    }

    /** Unpersists both caches and releases every checkpoint the
      * returned frame `out` (null on a throw) does not read. */
    private[Graph] def close(out: DataFrame): Unit = {
      release(keep = Option(out).toSet.flatMap(rddsOf))
      edges.unpersist()
      nodeCache.foreach(_.unpersist())
    }

    /** Unpersists the blocks of every live checkpoint `keep` rejects
      * (Dataset.unpersist reaches only CacheManager entries, not
      * checkpoint blocks). A checkpoint has no lineage to recompute
      * from, so this is safe only once nothing reads it again. */
    private def release(keep: RDD[_] => Boolean): Unit = {
      live.filterNot(keep).foreach(_.unpersist(blocking = false))
      live = live.filter(keep)
    }
  }

  /** The RDDs behind `df`'s `LogicalRDD` leaves — its checkpoints. */
  private def rddsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Runs `body` on a [[VertexProgram]] over `edges` (hash-partitioned
    * on `gatherKey`) and, when given, `nodes` (on `node`), with
    * `spark.sql.shuffle.partitions` scoped to [[iterPartitions]] of
    * `rows` for everything it plans. The caches are freed on return or
    * throw; on return every checkpoint is released except those the
    * returned frame reads — its last round's state. */
  private[operators] def vertexProgram(
      rows: Long, edges: DataFrame, gatherKey: String,
      nodes: Option[DataFrame] = None)(
      body: VertexProgram => DataFrame): DataFrame = {
    val spark = edges.sparkSession
    withShufflePartitions(spark,
        iterPartitions(spark.sessionState.conf.numShufflePartitions, rows)) {
      val vp = new VertexProgram(edges, gatherKey, nodes)
      var out: DataFrame = null
      try {
        vp.prime()
        out = body(vp)
        out
      } finally vp.close(out)
    }
  }

  /** Edge-count gate for the driver-resident LOOP twins
    * ([[labelPropagationDriver]], [[kCoreDriver]], [[bfsLevelsDriver]],
    * [[shortestPathsDriver]], and [[Components.connectedComponents]]'
    * twin, whose rows are likewise both orientations of each edge):
    * the lifted primitive edge partitions stay on the EXECUTORS either
    * way (the [[DriverHarness]] device), but label propagation's
    * per-round merge is bounded by distinct (node, label) pairs ≤ E
    * rather than N, so the loop family takes a
    * belt-and-braces edge gate the N-merge rank family does not need
    * (8M edges ≈ 64 MB of primitive columns — the
    * [[csrMaxOrientedRows]] envelope argument). At 100 TB every call
    * crosses the gate and lands on the distributed bodies, which are
    * unchanged; the twins are strictly a small-graph latency device
    * (the round-14 rank-loop precedent), never load-bearing. */
  private[operators] def maxDriverLoopEdges(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.maxDriverLoopEdges")
      .map(_.toLong).getOrElse(8000000L)

  /** Both gates: node count within the rank family's broadcast/dense-
    * array envelope AND edge count within [[maxDriverLoopEdges]]. */
  private def useDriverLoop(gt: GraphTable): Boolean = {
    val spark = gt.edges.sparkSession
    gt.numNodes <= maxDriverRankNodes(spark) &&
      gt.numEdges <= maxDriverLoopEdges(spark)
  }

  /** Minimal open-addressing long→long count accumulator (power-of-two
    * capacity, linear probing, −1 as the empty sentinel — packed keys
    * are always ≥ 0). Label propagation's partials cross the wire as
    * its dense (keys, counts) copy, not as instances. */
  private[operators] final class LongCountMap(expected: Int) {
    private var cap = math.max(16,
      java.lang.Integer.highestOneBit(math.max(1, expected)) * 4)
    private var keys = Array.fill(cap)(-1L)
    private var vals = new Array[Long](cap)
    private var used = 0

    def add(k: Long, c: Long): Unit = {
      if (used * 4 >= cap * 3) grow()
      var i = (scala.util.hashing.byteswap64(k) & (cap - 1)).toInt
      var done = false
      while (!done) {
        val kk = keys(i)
        if (kk == k) { vals(i) += c; done = true }
        else if (kk == -1L) {
          keys(i) = k
          vals(i) = c
          used += 1
          done = true
        } else i = (i + 1) & (cap - 1)
      }
    }

    private def grow(): Unit = {
      val ok = keys
      val ov = vals
      cap *= 2
      keys = Array.fill(cap)(-1L)
      vals = new Array[Long](cap)
      used = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != -1L) add(ok(i), ov(i))
        i += 1
      }
    }

    /** Dense (keys, counts) copy — the executor→driver wire format. */
    def toArrays: (Array[Long], Array[Long]) = {
      val ks = new Array[Long](used)
      val vs = new Array[Long](used)
      var i = 0
      var j = 0
      while (i < keys.length) {
        if (keys(i) != -1L) { ks(j) = keys(i); vs(j) = vals(i); j += 1 }
        i += 1
      }
      (ks, vs)
    }
  }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def maxAbsDelta(a: Array[Double], b: Array[Double]): Double = {
    var m = 0.0
    var j = 0
    while (j < a.length) {
      val d = math.abs(a(j) - b(j))
      if (d > m) m = d
      j += 1
    }
    m
  }

  /** Exact cellwise sum of dense 12-dp decimal partials (null cell = no
    * mass) — the [[DriverHarness.wave]] merge of the rank and HITS
    * twins. */
  private def sumDecimals(cells: Int)(ps: Seq[Array[JBD]]): Array[JBD] =
    ps.foldLeft(new Array[JBD](cells)) { (a, b) =>
      var j = 0
      while (j < cells) {
        if (b(j) != null) a(j) = if (a(j) == null) b(j) else a(j).add(b(j))
        j += 1
      }
      a
    }

  /** The driver rank loop of [[GraphTable.pageRank]] and
    * [[GraphTable.personalizedPageRank]] (see the scale posture there)
    * on the [[DriverHarness]] `h`, whose node table is the rank domain.
    * Per round: the total sink mass `dm` as an exact 12-dp sum over the
    * sink nodes (0.0 when `sinks` is false), ONE wave of 12-dp
    * contribution sums round(rank·w/wout, 12), then the caller's damped
    * `update(v, s, dm)` for node v with contribution sum s, rounded to
    * 9 dp. */
  private def rankLoopDriver(
      gt: GraphTable,
      h: DriverHarness,
      sinks: Boolean,
      rank0: Array[Double],
      iters: Int,
      epsilon: Option[Double])(
      update: (Int, Double, Double) => Double): DataFrame = {
    val nN = h.nN
    val sinkIdx: Array[Int] =
      if (sinks)
        gt.nodes.where(!col("is_src")).select("node")
          .collect().map(r => h.indexOf(r.get(0)))
      else Array.emptyIntArray
    val (rank, _) = rounds(rank0, iters) { (rank, _) =>
      var dms = JBD.ZERO
      sinkIdx.foreach(d =>
        dms = dms.add(JBD.valueOf(rank(d)).setScale(12, HALF_UP)))
      val dm = dms.doubleValue()
      val sums = h.wave(rank) { (rk, b) =>
        val acc = new Array[JBD](nN)
        var i = 0
        while (i < b.src.length) {
          val c = JBD.valueOf(rk(b.src(i)) * b.w(i) / b.wout(i))
            .setScale(12, HALF_UP)
          val d = b.dst(i)
          acc(d) = if (acc(d) == null) c else acc(d).add(c)
          i += 1
        }
        acc
      }(sumDecimals(nN))
      val next = new Array[Double](nN)
      var v = 0
      while (v < nN) {
        val s = if (sums(v) == null) 0.0 else sums(v).doubleValue()
        next(v) = round9(update(v, s, dm))
        v += 1
      }
      next
    }((rank, next) => epsilon.exists(eps => maxAbsDelta(next, rank) <= eps))
    h.release()
    h.frame(_ => true, ("rank", DoubleType, rank(_)))
      .orderBy(desc("rank"), col("node"))
  }

  /** The distributed rank loop of [[GraphTable.pageRank]] and
    * [[GraphTable.personalizedPageRank]] (see the scale posture there) on the
    * [[VertexProgram]]. `nodes` is the rank domain: node,
    * then the `sink` flag and the reset weight `rv` when the caller
    * has them. `rank0` is the round-0 rank column over it, `dmScalar`
    * turns the exact sink-mass sum (a double) into the round's scalar
    * `dm`, and `update(sd, dm)` is the caller's damped update from the
    * contribution sum `sd`. Without a sink flag `dm` is 0.0. */
  private def rankLoopDistributed(
      gt: GraphTable,
      nodes: DataFrame,
      rank0: Column,
      iters: Int,
      epsilon: Option[Double])(
      dmScalar: Column => Column,
      update: (Column, Column) => Column): DataFrame =
    vertexProgram(loopRows(gt), gt.edges, "src", Some(nodes)) { vp =>
      // the SINK FLAG rides the node (and therefore rank) table, so the
      // per-round sink-mass aggregate is a filter over the
      // already-checkpointed ranks — no per-round semi-join against a
      // dangling table
      val sinkCols =
        if (nodes.columns.contains("sink")) Seq(col("sink")) else Nil
      // round 0 is a LAZY projection over the cached node table — its
      // lineage is one cache read + projection, and the projection
      // preserves the cache's hash partitioning, so round 1 plans
      // exactly as it did over an eager checkpoint (which would only
      // re-materialize a second copy of the node rows)
      val (ranks, _) = vp.loop(
          vp.nodes.select(col("node") +: sinkCols :+ rank0.as("rank"): _*),
          iters) { (ranks, _) =>
        // contributions: 12-dp DECIMAL partial/final aggregate — the
        // round's one E-row shuffle
        val contrib = vp.gather(ranks)
          .select(col("dst").as("node"),
            round(col("rank") * col("w") / col("wout"), 12)
              .cast(Dec12).as("c"))
          .groupBy("node").agg(sum(col("c")).as("s"))
        val joined = vp.nodes
          .join(contrib.hint("shuffle_hash"), Seq("node"), "left")
          .select(vp.nodes.columns.toSeq.map(col) :+
            coalesce(col("s").cast("double"), lit(0.0)).as("sd"): _*)
        // sink mass: a ONE-ROW aggregate over the checkpointed rank
        // table's sink rows, cross-joined into the update — the scalar
        // stays inside the plan, no driver collect, no per-round join.
        // Without sinks sd + 0.0 == sd (contributions are ≥ 0, so no
        // -0.0 edge), keeping the two bodies bit-identical.
        val withDm =
          if (sinkCols.nonEmpty) {
            val dm = ranks.where(col("sink"))
              .agg(coalesce(
                sum(round(col("rank"), 12).cast(Dec12)),
                lit(JBD.ZERO).cast(Dec12))
                .as("dms"))
              .select(dmScalar(col("dms").cast("double")).as("dm"))
            joined.crossJoin(broadcast(dm))
          } else joined.withColumn("dm", lit(0.0))
        vp.checkpoint(withDm.select(col("node") +: sinkCols :+
          round(update(col("sd"), col("dm")), 9).as("rank"): _*))
      }(maxDeltaWithin(epsilon, "rank"))
      ranks.select(col("node"), col("rank"))
        .orderBy(desc("rank"), col("node"))
    }

  /** Max over nodes of the largest |Δ| across `cols` between two state
    * tables keyed `node`, compared with `epsilon` (inclusive) — the
    * epsilon halt of the rank loop and HITS. One one-row aggregate
    * (a bounded scalar action, the K-Means-convergence category),
    * paid only when an epsilon is set. */
  private def maxDeltaWithin(epsilon: Option[Double], cols: String*)(
      prev: DataFrame, next: DataFrame): Boolean =
    epsilon.exists { eps =>
      val p = prev.select(
        col("node") +: cols.map(c => col(c).as(s"prev_$c")): _*)
      val ds = cols.map(c => abs(col(c) - col(s"prev_$c")))
      next.join(p, Seq("node"))
        .agg(max(if (ds.size == 1) ds.head else greatest(ds: _*)).as("d"))
        .head().getDouble(0) <= eps
    }

  /** The row count that sizes a [[vertexProgram]] over `gt`. */
  private def loopRows(gt: GraphTable): Long =
    math.max(gt.numEdges, gt.numNodes)

  // --------------------------------------- personalized PageRank

  private[operators] def personalizedPageRankImpl(
      gt: GraphTable,
      seeds: DataFrame,
      iters: Int,
      damping: Double,
      epsilon: Option[Double],
      distributed: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0,1), got $damping")
    epsilon.foreach(e => require(e >= 0.0, s"epsilon must be >= 0, got $e"))
    require(gt.numNodes > 0, "graph has no nodes")
    val seedsDf = seeds.select(col(seeds.columns.head).as("node")).distinct()
    // seed precondition checked BEFORE this call registers any cache —
    // a repeated misconfigured call must not accumulate persists
    val k = gt.nodes.join(seedsDf, Seq("node"), "left_semi").count()
    require(k > 0, "no seed node appears in the graph")
    val rv0 = 1.0 / k
    // `base` with the per-node reset weight attached ONCE: 1/|S| on
    // seed nodes (seeds outside the graph are ignored), 0 elsewhere
    def withReset(base: DataFrame): DataFrame =
      base.join(seedsDf.withColumn("_g_seed", lit(true)), Seq("node"), "left")
        .select(base.columns.toSeq.map(col) :+
          when(col("_g_seed").isNotNull, lit(rv0)).otherwise(lit(0.0))
            .as("rv"): _*)
    // the total sink mass rides the reset distribution (NOT divided
    // by N)
    if (distributed.getOrElse(
        gt.numNodes > maxDriverRankNodes(gt.edges.sparkSession)))
      rankLoopDistributed(gt,
        withReset(gt.nodes.select(col("node"), (!col("is_src")).as("sink"))),
        col("rv"), iters, epsilon)(
        identity,
        (sd, dmt) => lit(1.0 - damping) * col("rv") +
          lit(damping) * (sd + dmt * col("rv")))
    else {
      // the reset-weight join collapses to an N-bounded (node, rv)
      // collect — bounded by the node count whatever the seed
      // cardinality
      val h = new DriverHarness(withReset(gt.nodes.select("node")),
        gt.edges.select("src", "dst", "w", "wout"))
      val rv: Array[Double] = h.nodeRows.map(_.getDouble(1))
      rankLoopDriver(gt, h, sinks = true, rv.clone(), iters, epsilon) {
        (v, s, dmt) => (1.0 - damping) * rv(v) + damping * (s + dmt * rv(v))
      }
    }
  }

  // ------------------------------------------------------------- HITS

  private[operators] def hitsImpl(
      gt: GraphTable,
      iters: Int,
      epsilon: Option[Double],
      distributed: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    epsilon.foreach(e => require(e >= 0.0, s"epsilon must be >= 0, got $e"))
    require(gt.numNodes > 0, "graph has no nodes")
    if (distributed.getOrElse(
        gt.numNodes > maxDriverRankNodes(gt.edges.sparkSession)))
      hitsDistributed(gt, iters, epsilon)
    else hitsDriver(gt, iters, epsilon)
  }

  /** Distributed HITS body (see the scale posture on [[GraphTable.hits]]). */
  private def hitsDistributed(
      gt: GraphTable,
      iters: Int,
      epsilon: Option[Double]): DataFrame = {
    val e = gt.edges.select("src", "dst")
    // ONE bidirectional gather cache: (gfrom → gto) carries hub mass
    // when is_auth (the src→dst direction) and auth mass otherwise
    // (dst→src) — 2E rows co-partitioned on the score-join key, so
    // each round is one join + one aggregate, not two of each.
    val bi = e.select(col("src").as("gfrom"), col("dst").as("gto"),
        lit(true).as("is_auth"))
      .unionAll(e.select(col("dst").as("gfrom"), col("src").as("gto"),
        lit(false).as("is_auth")))
    val n = gt.numNodes.toDouble
    val dec0 = lit(java.math.BigDecimal.ZERO).cast(Dec12)
    val nodes = gt.nodes.select("node")
    vertexProgram(loopRows(gt), bi, "gfrom", Some(nodes)) { vp =>
      val init = vp.checkpoint(vp.nodes.select(col("node"),
        lit(1.0 / n).as("auth"), lit(1.0 / n).as("hub")))
      val (scores, _) = vp.loop(init, iters) { (scores, _) =>
        // fused gather: one pass over the bidirectional cache; the
        // conditional 12-dp DECIMAL sums split the auth and hub term
        // multisets exactly as the separate gathers did (null terms are
        // skipped by sum), so both totals stay bit-identical
        val perNode = vp.gather(scores)
          .select(col("gto").as("node"),
            when(col("is_auth"), round(col("hub"), 12).cast(Dec12)).as("ca"),
            when(!col("is_auth"), round(col("auth"), 12).cast(Dec12)).as("ch"))
          .groupBy("node")
          .agg(sum(col("ca")).as("sa"), sum(col("ch")).as("sh"))
        // L1 totals as ONE one-row aggregate, cross-joined (no collect)
        val tots = perNode.agg(coalesce(sum(col("sa")), dec0).as("ta"),
          coalesce(sum(col("sh")), dec0).as("th"))
        vp.checkpoint(vp.nodes
          .join(perNode.hint("shuffle_hash"), Seq("node"), "left")
          .crossJoin(broadcast(tots))
          .select(col("node"),
            round(coalesce(col("sa").cast("double"), lit(0.0)) /
              col("ta").cast("double"), 9).as("auth"),
            round(coalesce(col("sh").cast("double"), lit(0.0)) /
              col("th").cast("double"), 9).as("hub")))
      }(maxDeltaWithin(epsilon, "auth", "hub"))
      scores.orderBy(desc("auth"), col("node"))
    }
  }

  /** Driver-resident HITS twin ([[DriverHarness]]): scores live in
    * dense arrays between rounds; each round is ONE wave folding BOTH
    * gathers at once into one 2N-cell partial — auth(dst) += r12(hub(src))
    * in cell dst, hub(src) += r12(auth(dst)) in cell N + src — exact
    * decimals rounded ONCE per node per round (the distributed form
    * rounds per edge row; same addend values, same multisets), then
    * L1-normalized on the driver. */
  private def hitsDriver(
      gt: GraphTable,
      iters: Int,
      epsilon: Option[Double]): DataFrame = {
    val h = new DriverHarness(gt.nodes.select("node"),
      gt.edges.select(col("src"), col("dst")))
    val nN = h.nN
    val n = nN.toDouble
    val u = Array.fill(nN)(1.0 / n) // never written: both may share it
    val ((auth, hub), _) = rounds((u, u), iters) { case ((auth, hub), _) =>
      // one rounded decimal per node per round (auth cells, then hub
      // cells) — the gathers add only these table values, so the addend
      // multisets match the distributed form's per-edge-row rounding
      val r12 = new Array[JBD](2 * nN)
      var p = 0
      while (p < nN) {
        r12(p) = JBD.valueOf(auth(p)).setScale(12, HALF_UP)
        r12(nN + p) = JBD.valueOf(hub(p)).setScale(12, HALF_UP)
        p += 1
      }
      val sums = h.wave(r12) { (r, b) =>
        val acc = new Array[JBD](2 * nN)
        var i = 0
        while (i < b.src.length) {
          val s = b.src(i)
          val d = b.dst(i)
          val hs = nN + s
          acc(d) = if (acc(d) == null) r(hs) else acc(d).add(r(hs))
          acc(hs) = if (acc(hs) == null) r(d) else acc(hs).add(r(d))
          i += 1
        }
        acc
      }(sumDecimals(2 * nN))
      // L1 totals: exact sums of the non-null cells — the same
      // multisets the distributed one-row aggregates sum
      var ta = JBD.ZERO
      var th = JBD.ZERO
      var t = 0
      while (t < nN) {
        if (sums(t) != null) ta = ta.add(sums(t))
        if (sums(nN + t) != null) th = th.add(sums(nN + t))
        t += 1
      }
      val taD = ta.doubleValue()
      val thD = th.doubleValue()
      val nextAuth = new Array[Double](nN)
      val nextHub = new Array[Double](nN)
      var v = 0
      while (v < nN) {
        nextAuth(v) = round9(
          (if (sums(v) == null) 0.0 else sums(v).doubleValue()) / taD)
        nextHub(v) = round9(
          (if (sums(nN + v) == null) 0.0 else sums(nN + v).doubleValue()) /
            thD)
        v += 1
      }
      (nextAuth, nextHub)
    } { case ((auth, hub), (nextAuth, nextHub)) =>
      epsilon.exists { eps =>
        var m = 0.0
        var j = 0
        while (j < nN) {
          val d = math.max(math.abs(nextAuth(j) - auth(j)),
            math.abs(nextHub(j) - hub(j)))
          if (d > m) m = d
          j += 1
        }
        m <= eps
      }
    }
    h.release()
    h.frame(_ => true, ("auth", DoubleType, auth(_)),
      ("hub", DoubleType, hub(_)))
      .orderBy(desc("auth"), col("node"))
  }

  // ---------------------------------------------- label propagation

  private[operators] def labelPropagationImpl(
      gt: GraphTable,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(gt.numNodes > 0, "graph has no nodes")
    if (useDriverLoop(gt)) labelPropagationDriver(gt, iters)
    else labelPropagationDistributed(gt, iters)
  }

  /** Driver-resident label-propagation twin ([[DriverHarness]]): labels
    * live in a dense int array between rounds; each round is ONE wave
    * producing the exact (dst, label) offer counts, argmax'd on the
    * driver. The node list is collected VALUE-ORDERED, so dense-index
    * comparisons ARE value comparisons and the "smallest label on ties"
    * break matches the distributed `min(struct(-cnt, lbl))`.
    *
    * Offers are keyed (dstIdx << 32 | lblIdx), bounded by distinct
    * (dst, label) pairs ≤ E — the reason for the [[maxDriverLoopEdges]]
    * gate. Partials cross as primitive (keys, counts) arrays and merge
    * into a [[LongCountMap]]: the boxed java.util.HashMap form measured
    * ~1.8 s/line at sf0.1 volumes (≈2M boxed entries serialized per
    * round), the primitive form ~0.1 s. */
  private def labelPropagationDriver(
      gt: GraphTable, iters: Int): DataFrame = {
    val h = new DriverHarness(gt.nodes.select("node").orderBy("node"),
      gt.edges.select("src", "dst"))
    val nN = h.nN
    val (lbl, _) = rounds(Array.tabulate(nN)(identity), iters) { (lbl, _) =>
      val (ks, cs) = h.wave(lbl) { (l, b) =>
        val m = new LongCountMap(1 << 12)
        var i = 0
        while (i < b.src.length) {
          m.add((b.dst(i).toLong << 32) | (l(b.src(i)).toLong & 0xffffffffL),
            1L)
          i += 1
        }
        m.toArrays
      } { ps =>
        val merged = new LongCountMap(
          math.max(1 << 12, ps.iterator.map(_._1.length).sum))
        ps.foreach { case (ks, vs) =>
          var i = 0
          while (i < ks.length) { merged.add(ks(i), vs(i)); i += 1 }
        }
        merged.toArrays
      }
      // deterministic argmax per dst: most frequent label, smallest
      // (by value = by index) on ties; nodes with no in-edges keep
      val bestCnt = new Array[Long](nN)
      val bestLbl = new Array[Int](nN)
      java.util.Arrays.fill(bestLbl, -1)
      var e = 0
      while (e < ks.length) {
        val d = (ks(e) >>> 32).toInt
        val l = (ks(e) & 0xffffffffL).toInt
        val c = cs(e)
        if (bestLbl(d) == -1 || c > bestCnt(d) ||
            (c == bestCnt(d) && l < bestLbl(d))) {
          bestCnt(d) = c
          bestLbl(d) = l
        }
        e += 1
      }
      Array.tabulate(nN)(v => if (bestLbl(v) == -1) lbl(v) else bestLbl(v))
    }((lbl, next) => java.util.Arrays.equals(lbl, next))
    h.release()
    h.frame(_ => true, ("lbl", h.nodeType, i => h.nodeArr(lbl(i))))
      .orderBy("node")
  }

  /** Distributed label-propagation body (the 100 TB path — see the
    * scale posture on [[GraphTable.labelPropagation]]). */
  private def labelPropagationDistributed(
      gt: GraphTable,
      iters: Int): DataFrame =
    vertexProgram(loopRows(gt), gt.edges.select("src", "dst"), "src") { vp =>
      val init = vp.checkpoint(
        gt.nodes.select(col("node"), col("node").as("lbl"))
          .repartition(col("node")))
      val (labels, _) = vp.loop(init, iters) { (labels, _) =>
        // exact in-neighbor label counts (one E-row shuffle), then the
        // deterministic argmax: min over (−count, label) structs picks
        // the most frequent label, smallest on ties
        val cnts = vp.gather(labels.select("node", "lbl"))
          .groupBy(col("dst"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
        val pick = cnts
          .groupBy(col("dst").as("node"))
          .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l")))
            .as("m"))
          .select(col("node"), col("m").getField("l").as("new_lbl"))
        vp.checkpoint(labels
          .select(col("node"), col("lbl").as("prev"))
          .join(pick.hint("shuffle_hash"), Seq("node"), "left")
          .select(col("node"),
            coalesce(col("new_lbl"), col("prev")).as("lbl"),
            col("prev")))
      } { (_, next) =>
        // early fixpoint stop (the kCoreImpl stationary device): each
        // round is a pure function of the previous labels, so a round
        // that changes NOTHING proves every remaining round is a no-op —
        // the result is bit-identical to running the full `iters`, and
        // the oracle's cap-round recursive-CTE replay still matches. One
        // aggregate over the freshly checkpointed, co-partitioned table.
        next.where(col("lbl") =!= col("prev")).count() == 0L
      }
      labels.select(col("node"), col("lbl")).orderBy(col("node"))
    }

  // ------------------------------------------- triangles / k-core

  /** Per-node triangle counts via degree orientation (the standard
    * scale device — Schank & Wagner 2005 / Suri & Vassilvitskii 2011's
    * MR adaptation): orient every undirected edge from its
    * lexicographically smaller (degree, id) endpoint to the larger, so
    * each triangle a≺b≺c appears exactly once as the wedge (a→b, a→c)
    * closed by the oriented edge b→c. The oriented out-degree is
    * O(√E), which bounds the wedge set by O(E^1.5) regardless of skew
    * — a hub of degree d contributes d wedges as a spoke, never d²,
    * because its own out-list is short. All counts are exact longs:
    * no rounding device needed anywhere.
    *
    * Requires a symmetric double-edged feed (the [[Components]] /
    * label-propagation convention) with no self-loops expected;
    * self-loops are filtered defensively, and a directed feed fails
    * the loud no-sink precondition instead of silently undercounting.
    *
    * Plan shape: degree attach is two N-row joins onto the E-row edge
    * list; the close is picked by size ([[orientedTriangles]]): a
    * broadcast grouped-adjacency intersect, or at scale the wedge
    * self-join on the spoke `u` plus one close join on (b, c). No
    * window over the corpus, no driver collect.
    *
    * Returns (node, deg, tri) for EVERY node (tri = 0 when the node
    * closes no triangle), ordered by node. */
  private[operators] def triangleCountsImpl(gt: GraphTable): DataFrame =
    persistedTriangleCore(gt).orderBy("node")

  /** The (node, deg, tri) core of [[triangleCountsImpl]] and
    * [[clusteringCoefficientImpl]], kept for their global sorts (on the
    * csr side persisted under `graph.tri.result`, see
    * [[orientedTriangles]]). Top-k consumers (q119-style) fuse into
    * TakeOrdered over the kept result. */
  private def persistedTriangleCore(gt: GraphTable): DataFrame = {
    require(gt.numNodes > 0, "graph has no nodes")
    require(gt.numDangling == 0,
      "triangleCounts requires a symmetric double-edged feed " +
        s"(found ${gt.numDangling} sink nodes)")
    triangleCore(
      gt.edges.where(col("src") =!= col("dst")).select("src", "dst"),
      gt.numEdges / 2, keepResult = true)
  }

  /** Per-node (node, deg, tri) over a symmetric, self-loop-free edge
    * frame: the shared core of the exact counter, the clustering
    * coefficient and the DOULION sampled estimator. Each triangle
    * credits its three corners; lifecycle and CachePool tags
    * (`graph.tri.*`) as in [[orientedTriangles]]. */
  private def triangleCore(
      e: DataFrame, orientedRows: Long, keepResult: Boolean): DataFrame =
    orientedTriangles(e, orientedRows, "tri", keepResult) { (deg, tri) =>
      val perNode = tri
        .select(explode(array(col("u"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("tri"))
      deg
        .join(perNode.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"))
    }

  /** Oriented-list row cap (E/2) of the csr close, the only selector
    * of the triangle family's enumeration ([[orientedTriangles]]): at
    * or below it csr runs, above it the wedge shuffle plan. The
    * broadcast adjacency packs one long per oriented edge plus one
    * array row per source node, so 2M rows ≈ 30-60 MB as a hashed
    * relation — inside executor memory with headroom over the 1.2M
    * rows of the sf0.1 copurchase graph. Beyond it the wedge plan's
    * exchanges scale with cluster width instead of a single broadcast
    * (a 100 TB edge list must never be forced through one driver
    * collect). Override with `spark.graft.graph.csrMaxOrientedRows`. */
  private[operators] def csrMaxOrientedRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.csrMaxOrientedRows")
      .map { v =>
        try v.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            "spark.graft.graph.csrMaxOrientedRows must be a long row " +
              s"count, got '$v'")
        }
      }.getOrElse(2000000L)

  /** Triangle enumeration over a symmetric, self-loop-free (src, dst)
    * edge frame, written once for the whole family: degree → orient
    * each edge from its smaller (degree, id) endpoint → close. Then
    * `credit(deg, tri)` builds the caller's result from `deg` (node,
    * deg) and `tri`, which holds every triangle exactly once as the
    * oriented triple (u, b, c): u lowest, c highest in orientation
    * order.
    *
    * The close is picked by size alone. At or below
    * [[csrMaxOrientedRows]] oriented rows the grouped-adjacency (csr)
    * close runs: each node's oriented out-neighbours are grouped into
    * ONE sorted array row, that table is broadcast, and each oriented
    * edge (u, b) closes as N⁺(u) ∩ N⁺(b). Above it the wedge plan
    * runs: the oriented list's self-join on the spoke u (the wedge
    * stream), then a close join on (b, c), both shuffle_hash at the
    * ambient partition count. The work is the same O(E^1.5) bound;
    * csr runs it as per-row array merges and never moves wedge-volume
    * rows (round-13 min-of-8 at sf0.1, 1.2M oriented rows: q119 3.34
    * → 2.12 s, q129 3.70 → 2.28 s). Counts are integer-exact, so the
    * side cannot move a bit (parity-pinned in GraphSpec).
    *
    * Lifecycle. csr returns a LAZY result, so a top-k caller fuses
    * into TakeOrdered over the close. Its caches are persisted under
    * the CachePool tags `graph.<tag>.deg`, `.orient` and `.adj`; each
    * lives until the next call under the same tag (on either side) or
    * `CachePool.releaseAll`, and an evicted one recomputes from
    * lineage. With `keepResult` (for a caller that sorts the whole
    * result) the csr result is persisted too, under `graph.<tag>.result`:
    * a full-output sort directly over the lazy close would run the
    * close's last stage twice, as the range partitioner's sampling pass
    * runs the child once before the sort pass. Wedge first releases the
    * tag's csr caches, materializes the result with an eager
    * `localCheckpoint`, which needs no such cache, and releases its
    * E-row caches before it returns. */
  private def orientedTriangles(
      e: DataFrame, orientedRows: Long, tag: String, keepResult: Boolean)(
      credit: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val csr = orientedRows <= csrMaxOrientedRows(e.sparkSession)
    if (!csr) Seq("deg", "orient", "adj", "result")
      .foreach(n => graft.CachePool.release(s"graph.$tag.$n"))
    def cache(name: String, df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      if (csr) graft.CachePool.swap(s"graph.$tag.$name", p) else p
    }
    // symmetric feed: degree = out-edge count (a structural count; the
    // edge list is already distinct, so weights are irrelevant)
    val deg = cache("deg", e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")))
    val orient = cache("orient", e
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
      .where(struct(col("ds"), col("src")) < struct(col("dd"), col("dst")))
      // the head's degree orders the wedge's two legs; csr needs none
      .select(Seq(col("src").as("u"), col("dst").as("v")) ++
        (if (csr) Nil else Seq(col("dd").as("dv"))): _*))
    val tri = if (csr) {
      // adjacency rows sorted once per group: the per-edge close is a
      // linear two-pointer merge (graft_sorted_intersect) instead of
      // array_intersect's per-row hash set. Other node types keep
      // array_intersect, which yields the same intersection set.
      val longNodes =
        e.schema.head.dataType == org.apache.spark.sql.types.LongType
      val adj = cache("adj", orient.groupBy(col("u"))
        .agg((if (longNodes) sort_array(collect_list(col("v")))
          else collect_list(col("v"))).as("nbrs")))
      adj.count() // materialize once; both broadcast builds read the cache
      // inner join on the head: an edge whose head has no oriented
      // out-neighbours closes nothing
      orient
        .join(broadcast(adj), Seq("u"))
        .join(broadcast(adj.select(col("u").as("v"),
          col("nbrs").as("nbrs_v"))), Seq("v"))
        .select(col("u"), col("v").as("b"),
          explode(if (longNodes)
            sortedIntersectCol(col("nbrs"), col("nbrs_v"))
          else array_intersect(col("nbrs"), col("nbrs_v"))).as("c"))
    } else orient
      // shuffle_hash self-join: hashing the E-row list while streaming
      // wedges past it beats sort-merge (which sorts the stream) ~2×
      .select(col("u"), col("v").as("b"), col("dv").as("db"))
      .join(orient.select(col("u"), col("v").as("c"), col("dv").as("dc"))
        .hint("shuffle_hash"), "u")
      .where(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
      .select(col("u"), col("b"), col("c"))
      .join(orient.select(col("u").as("b"), col("v").as("c"))
        .hint("shuffle_hash"), Seq("b", "c"))
    val out = credit(deg, tri)
    if (csr) { if (keepResult) cache("result", out) else out }
    else {
      // the checkpoint blocks are pinned while the result is reachable
      // and reclaimed by the ContextCleaner, so the caches can go
      val done = out.localCheckpoint(eager = true)
      orient.unpersist(blocking = false)
      deg.unpersist(blocking = false)
      done
    }
  }

  /** DOULION (Tsourakakis, Kang & Faloutsos 2009): estimate the global
    * triangle count from a sparsified graph — keep each undirected
    * edge independently with probability keepPct/100 and scale the
    * sample's exact triangle count by (100/keepPct)³. The 100-TB form
    * of triangle counting: the wedge stage runs on p·E edges
    * (p³ of the wedge volume), and the estimate is unbiased with
    * variance that vanishes as p²·T grows.
    *
    * Determinism device: the "coin flip" is the seeded-md5 hash of the
    * edge (the q54/q89 sampling device) — 8 hex chars parsed to a
    * long, mod 100 < keepPct — so the sample, and therefore the whole
    * estimate, is bit-reproducible under any partitioning, retry, or
    * engine. The estimate tri·10⁶/keepPct³ is one exact-integer
    * multiply and one double division — identical everywhere.
    *
    * Returns one row: (n_sampled_edges, tri_sampled, est_triangles).
    */
  private[operators] def triangleCountEstimateImpl(
      gt: GraphTable, keepPct: Int, seed: Long): DataFrame = {
    require(keepPct >= 1 && keepPct <= 100,
      s"keepPct must be in [1, 100], got $keepPct")
    require(gt.numNodes > 0, "graph has no nodes")
    require(gt.numDangling == 0,
      "triangleCountEstimate requires a symmetric double-edged feed " +
        s"(found ${gt.numDangling} sink nodes)")
    val pairs = gt.edges
      .where(col("src") < col("dst"))
      .where(conv(substring(
          md5(concat(lit(s"$seed-"), col("src").cast("string"),
            lit("-"), col("dst").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100 < keepPct)
      .select("src", "dst")
    val sym = pairs.union(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    // The size hint is the EXPECTED sampled oriented-row count, not
    // the sample's cardinality, so the csr pick is probabilistic here
    // (a sample landing above the estimate broadcasts a slightly larger
    // adjacency). Results are exact on either side, and counting the
    // sample first would cost an extra job per estimate call.
    val perNode = triangleCore(sym, gt.numEdges * keepPct / 200,
      keepResult = false)
    val scale = 1000000.0 / (keepPct.toLong * keepPct * keepPct).toDouble
    perNode
      .agg(
        coalesce((sum(col("deg")) / lit(2L)).cast("long"), lit(0L))
          .as("n_sampled_edges"),
        coalesce((sum(col("tri")) / lit(3L)).cast("long"), lit(0L))
          .as("tri_sampled"))
      .withColumn("est_triangles",
        col("tri_sampled").cast("double") * lit(scale))
  }

  /** Local clustering coefficient cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    * (0 when deg < 2) on top of [[triangleCountsImpl]]. The quotient is
    * a single double division of exact longs — bit-identical in any
    * engine that evaluates the same expression, so no rounding device
    * is needed. Returns (node, deg, tri, cc) ordered by node. */
  private[operators] def clusteringCoefficientImpl(gt: GraphTable): DataFrame =
    persistedTriangleCore(gt)
      .withColumn("cc",
        when(col("deg") < 2, lit(0.0))
          .otherwise(col("tri") * lit(2.0) /
            (col("deg") * (col("deg") - lit(1)))))
      .orderBy("node")

  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * (Seidman 1983), by synchronous (Jacobi) peeling: each round drops
    * ALL nodes with current degree < k simultaneously — an edge
    * survives iff both endpoints' round-r degrees are ≥ k. Converges
    * to the same unique k-core as sequential peeling (degrees only
    * shrink, the core is closed under both schedules), and the Jacobi
    * form makes every round a pure function of the previous edge set —
    * row-replayable in a recursive-CTE oracle (the q117 device). The
    * loop stops at the first stationary round (edge count unchanged —
    * the node set shrinks monotonically, so equal counts ⟺ fixpoint;
    * a one-row bounded scalar per round, the A7 category) or at the
    * `maxRounds` cap; because the fixpoint is stationary, the result
    * equals the cap-round state of a full replay either way.
    *
    * Requires a symmetric double-edged feed. Scale posture: the
    * distributed body's state is the surviving edge list itself, on
    * the [[VertexProgram]]; per round one degree aggregate
    * co-partitioned on `src` and two semi-joins of the E-row edge list
    * against the (shrinking) N-row keep list. All counts exact longs.
    *
    * Returns surviving (node, deg) — degree WITHIN the core — ordered
    * by node (empty when the k-core is empty). */
  private[operators] def kCoreImpl(
      gt: GraphTable, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(gt.numNodes > 0, "graph has no nodes")
    require(gt.numDangling == 0,
      "kCore requires a symmetric double-edged feed " +
        s"(found ${gt.numDangling} sink nodes)")
    if (useDriverLoop(gt)) kCoreDriver(gt, k, maxRounds)
    else kCoreDistributed(gt, k, maxRounds)
  }

  /** Driver-resident k-core twin ([[DriverHarness]]): the alive set
    * lives in a dense boolean array between rounds; each round is ONE
    * wave computing exact per-node degrees over both-alive edges (the
    * symmetric feed makes the src-side count the degree and its sum
    * the surviving edge count, so the stationary check needs no extra
    * job). */
  private def kCoreDriver(
      gt: GraphTable, k: Int, maxRounds: Int): DataFrame = {
    val h = new DriverHarness(gt.nodes.select("node"),
      gt.edges.where(col("src") =!= col("dst")).select("src", "dst"))
    val nN = h.nN
    def aliveDegrees(alive: Array[Boolean]): Array[Long] =
      h.wave(alive) { (a, b) =>
        val acc = new Array[Long](nN)
        var i = 0
        while (i < b.src.length) {
          if (a(b.src(i)) && a(b.dst(i))) acc(b.src(i)) += 1L
          i += 1
        }
        acc
      } { ps =>
        ps.foldLeft(new Array[Long](nN)) { (a, b) =>
          var j = 0
          while (j < nN) { a(j) += b(j); j += 1 }
          a
        }
      }
    val all = Array.fill(nN)(true)
    val deg0 = aliveDegrees(all)
    val ((_, deg), _) = rounds((all, deg0), maxRounds,
        halted = deg0.sum == 0L) { case ((alive, deg), _) =>
      val keep = Array.tabulate(nN)(v => alive(v) && deg(v) >= k)
      (keep, aliveDegrees(keep))
    } { case ((_, deg), (_, deg2)) =>
      val m2 = deg2.sum
      m2 == deg.sum || m2 == 0L
    }
    h.release()
    h.frame(deg(_) > 0L, ("deg", LongType, deg(_))).orderBy("node")
  }

  /** Distributed k-core body (the 100 TB path — see the scale posture
    * on the impl doc above). Round 0 is the edge cache itself, and its
    * priming count is the first stationary-check edge count. */
  private def kCoreDistributed(
      gt: GraphTable, k: Int, maxRounds: Int): DataFrame =
    vertexProgram(loopRows(gt),
        gt.edges.where(col("src") =!= col("dst")).select("src", "dst"),
        "src") { vp =>
      var m = vp.numEdgeRows
      val (edges, _) =
        vp.loop(vp.edges, maxRounds, halted = m == 0L) { (edges, _) =>
          val keep = edges.groupBy(col("src").as("node"))
            .agg(count(lit(1)).as("d"))
            .where(col("d") >= k)
            .select("node")
          vp.checkpoint(edges
            .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
            .select("src", "dst"))
        } { (_, next) =>
          val m2 = next.count()
          val stationary = m2 == m || m2 == 0L
          m = m2
          stationary
        }
      edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .orderBy("node")
    }

  // --------------------------------------------- BFS / link features

  /** Breadth-first hop levels from a seed set: level(v) = the minimum
    * number of edges (following src→dst) from any seed to v, up to
    * `maxDepth`. The reachability/proximity primitive behind
    * "within-k-hops-of-known-good" curation filters. Levels are exact
    * ints with a unique fixpoint, so the result needs no rounding
    * device and replays in a recursive-CTE oracle (recursive UNION —
    * the DISTINCT form — keeps the oracle's state polynomial instead
    * of enumerating paths).
    *
    * Scale posture: textbook frontier expansion on the
    * [[VertexProgram]] — per round only the (shrinking) frontier is
    * gathered into the edges, and discovered nodes are removed by an
    * anti-join against the levels table. Stops at the first empty
    * frontier or at `maxDepth`.
    *
    * Returns (node, lvl) for reached nodes (seeds at 0), ordered by
    * node. Seeds not present in the graph are ignored. */
  private[operators] def bfsLevelsImpl(
      gt: GraphTable, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    require(gt.numNodes > 0, "graph has no nodes")
    if (useDriverLoop(gt)) bfsLevelsDriver(gt, seeds, maxDepth)
    else bfsLevelsDistributed(gt, seeds, maxDepth)
  }

  /** Driver-resident BFS twin ([[DriverHarness]]): the frontier and
    * level table live in dense arrays between rounds; each round is ONE
    * wave marking one-hop reachability. */
  private def bfsLevelsDriver(
      gt: GraphTable, seeds: DataFrame, maxDepth: Int): DataFrame = {
    val h = new DriverHarness(gt.nodes.select("node"),
      gt.edges.select("src", "dst"))
    val nN = h.nN
    val seedIdx = h.seedIndices(seeds)
    val lvl = Array.fill(nN)(-1)
    val seeded = new Array[Boolean](nN)
    seedIdx.foreach { i => lvl(i) = 0; seeded(i) = true }
    rounds(seeded, maxDepth, halted = seedIdx.isEmpty) { (frontier, r) =>
      val reached = h.wave(frontier) { (f, b) =>
        val acc = new Array[Boolean](nN)
        var i = 0
        while (i < b.src.length) {
          if (f(b.src(i))) acc(b.dst(i)) = true
          i += 1
        }
        acc
      } { ps =>
        ps.foldLeft(new Array[Boolean](nN)) { (a, b) =>
          var j = 0
          while (j < nN) { a(j) = a(j) || b(j); j += 1 }
          a
        }
      }
      val nf = new Array[Boolean](nN)
      var v = 0
      while (v < nN) {
        if (reached(v) && lvl(v) == -1) {
          lvl(v) = r + 1
          nf(v) = true
        }
        v += 1
      }
      nf
    }((_, nf) => !nf.contains(true))
    h.release()
    h.frame(lvl(_) >= 0, ("lvl", IntegerType, lvl(_))).orderBy("node")
  }

  /** Distributed BFS body (the 100 TB path — see the scale posture on
    * the impl doc above): the state is (levels, frontier). */
  private def bfsLevelsDistributed(
      gt: GraphTable, seeds: DataFrame, maxDepth: Int): DataFrame =
    vertexProgram(loopRows(gt), gt.edges.select("src", "dst"), "src") { vp =>
      val seeded = seedTable(vp, gt, seeds, lit(0).as("lvl"))
      val ((levels, _), _) = vp.loop((seeded, seeded), maxDepth,
          halted = seeded.count() == 0L) { case ((levels, frontier), r) =>
        val next = vp.checkpoint(vp.gather(frontier)
          .select(col("dst").as("node")).distinct()
          .join(levels, Seq("node"), "left_anti"))
        (vp.checkpoint(levels
          .unionByName(next.select(col("node"), lit(r + 1).as("lvl")))),
          next)
      } { case (_, (_, frontier)) => frontier.count() == 0L }
      levels.orderBy("node")
    }

  /** Round 0 of BFS and shortest paths, both its table and its
    * frontier: (node, `value`) over the distinct seeds (first column)
    * present in the graph. */
  private def seedTable(vp: VertexProgram, gt: GraphTable, seeds: DataFrame,
      value: Column): DataFrame =
    vp.checkpoint(gt.nodes
      .join(seeds.select(col(seeds.columns.head).as("node")).distinct(),
        Seq("node"), "left_semi")
      .select(col("node"), value)
      .repartition(col("node")))

  /** Weighted single-source(-set) shortest paths — [[bfsLevelsImpl]]'s
    * weighted sibling: Bellman–Ford frontier relaxation bounded at
    * `maxRounds` edges per path, over the artifact's `w` column. The
    * cost/proximity primitive behind "closest known-good document" and
    * weighted within-k-hops curation filters.
    *
    * Determinism: with integer-valued weights (the purchase-count
    * graphs), every path cost is an exact sum of integers in double
    * (≤ 2^53) and `min` over exact values is engine-independent — no
    * rounding device needed. The fixpoint is stationary (distances are
    * monotone non-increasing and bounded), so the early-stopped engine
    * table equals the oracle's cap-round replay (the q121 argument);
    * the oracle replays rounds with a zero-weight self-loop added to
    * the edge set, which turns `min(carry, relax)` into one `min` over
    * in-edges — a single recursive reference.
    *
    * Scale posture: on the [[VertexProgram]], per round only the
    * IMPROVED (node, dist) rows are gathered into the edges (the
    * frontier shrinks as distances settle), the candidate min is a
    * partial/final aggregate, and the cumulative table is refreshed by
    * a union + min-aggregate on the node key.
    *
    * Returns (node, dist) for nodes reachable within `maxRounds` hops
    * (seeds at 0.0), ordered by node. Seeds absent from the graph are
    * ignored. */
  private[operators] def shortestPathsImpl(
      gt: GraphTable, seeds: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    require(gt.numNodes > 0, "graph has no nodes")
    if (useDriverLoop(gt)) shortestPathsDriver(gt, seeds, maxRounds)
    else shortestPathsDistributed(gt, seeds, maxRounds)
  }

  /** Driver-resident Bellman–Ford twin ([[DriverHarness]]): the
    * distance table and improved-frontier live in dense double arrays
    * between rounds; each round is ONE wave computing per-dst candidate
    * minima (NaN = no candidate). */
  private def shortestPathsDriver(
      gt: GraphTable, seeds: DataFrame, maxRounds: Int): DataFrame = {
    val h = new DriverHarness(gt.nodes.select("node"),
      gt.edges.select("src", "dst", "w"))
    val nN = h.nN
    val seedIdx = h.seedIndices(seeds)
    val dist = Array.fill(nN)(Double.NaN)
    val seeded = Array.fill(nN)(Double.NaN)
    seedIdx.foreach { i => dist(i) = 0.0; seeded(i) = 0.0 }
    rounds(seeded, maxRounds, halted = seedIdx.isEmpty) { (fdist, _) =>
      val cand = h.wave(fdist) { (f, b) =>
        val acc = Array.fill(nN)(Double.NaN)
        var i = 0
        while (i < b.src.length) {
          val fs = f(b.src(i))
          if (!fs.isNaN) {
            val c = fs + b.w(i)
            val d = b.dst(i)
            if (acc(d).isNaN || c < acc(d)) acc(d) = c
          }
          i += 1
        }
        acc
      } { ps =>
        ps.foldLeft(Array.fill(nN)(Double.NaN)) { (a, b) =>
          var j = 0
          while (j < nN) {
            if (!b(j).isNaN && (a(j).isNaN || b(j) < a(j))) a(j) = b(j)
            j += 1
          }
          a
        }
      }
      val nf = Array.fill(nN)(Double.NaN)
      var v = 0
      while (v < nN) {
        val c = cand(v)
        if (!c.isNaN && (dist(v).isNaN || c < dist(v))) {
          dist(v) = c
          nf(v) = c
        }
        v += 1
      }
      nf
    }((_, nf) => nf.forall(_.isNaN))
    h.release()
    h.frame(!dist(_).isNaN, ("dist", DoubleType, dist(_))).orderBy("node")
  }

  /** Distributed Bellman–Ford body (the 100 TB path — see the scale
    * posture on the impl doc above): the state is (dist, improved). */
  private def shortestPathsDistributed(
      gt: GraphTable, seeds: DataFrame, maxRounds: Int): DataFrame =
    vertexProgram(loopRows(gt), gt.edges.select("src", "dst", "w"),
        "src") { vp =>
      val seeded = seedTable(vp, gt, seeds, lit(0.0).as("dist"))
      val ((dist, _), _) = vp.loop((seeded, seeded), maxRounds,
          halted = seeded.count() == 0L) { case ((dist, frontier), _) =>
        val relaxed = vp.gather(frontier)
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
          .groupBy("node").agg(min(col("dist")).as("dist"))
        val improved = vp.checkpoint(relaxed
          .join(dist.select(col("node"), col("dist").as("old")),
            Seq("node"), "left")
          .where(col("old").isNull || col("dist") < col("old"))
          .select("node", "dist"))
        (vp.checkpoint(dist.unionByName(improved)
          .groupBy("node").agg(min(col("dist")).as("dist"))), improved)
      } { case (_, (_, improved)) => improved.count() == 0L }
      dist.orderBy("node")
    }

  /** Neighborhood Jaccard of every edge's endpoints — the tie-strength
    * / link-feature primitive ("related products" on a co-purchase
    * graph): for an undirected edge {u, v},
    *
    *   jac = |N(u)∩N(v)| / (deg(u) + deg(v) − |N(u)∩N(v)|)
    *
    * where the common-neighbor count is exactly the number of
    * triangles through the edge — so the computation reuses the
    * degree-oriented triangle machinery and inherits its O(E^1.5)
    * wedge bound (never Σdeg², never all node pairs). All counts are
    * exact longs; the quotient is one double division — bit-identical
    * in any engine.
    *
    * Requires a symmetric double-edged feed. Returns one row per
    * undirected edge: (src, dst, deg_src, deg_dst, common, jac) with
    * src < dst, ordered by (jac DESC, src, dst). The enumeration, its
    * `graph.ej.*` caches and the kept unsorted result are
    * [[orientedTriangles]]'. */
  private[operators] def edgeJaccardImpl(gt: GraphTable): DataFrame = {
    require(gt.numNodes > 0, "graph has no nodes")
    require(gt.numDangling == 0,
      "edgeJaccard requires a symmetric double-edged feed " +
        s"(found ${gt.numDangling} sink nodes)")
    val e = gt.edges.where(col("src") =!= col("dst")).select("src", "dst")
    orientedTriangles(e, gt.numEdges / 2, "ej", keepResult = true) {
        (deg, tri) =>
      // each triangle (u,b,c) lies on its three undirected edges
      val perEdge = tri
        .select(explode(array(
          struct(least(col("u"), col("b")).as("a"),
            greatest(col("u"), col("b")).as("z")),
          struct(least(col("u"), col("c")).as("a"),
            greatest(col("u"), col("c")).as("z")),
          struct(least(col("b"), col("c")).as("a"),
            greatest(col("b"), col("c")).as("z")))).as("k"))
        .select(col("k.a").as("src"), col("k.z").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("common"))
      e.where(col("src") < col("dst"))
        .join(deg.select(col("node").as("src"), col("deg").as("deg_src")),
          "src")
        .join(deg.select(col("node").as("dst"), col("deg").as("deg_dst")),
          "dst")
        .join(perEdge.hint("shuffle_hash"), Seq("src", "dst"), "left")
        .select(col("src"), col("dst"), col("deg_src"), col("deg_dst"),
          coalesce(col("common"), lit(0L)).as("common"))
        .withColumn("jac",
          col("common").cast("double") /
            (col("deg_src") + col("deg_dst") - col("common")))
    }.orderBy(desc("jac"), col("src"), col("dst"))
  }

  /** Adamic-Adar link prediction over a symmetric double-edged feed:
    * for every non-adjacent 2-hop pair (u,w), score = Σ over common
    * neighbors b of 1/ln(deg(b)) — the classic common-neighbor signal
    * that discounts hub-mediated co-occurrence. Exactness device: each
    * term is rounded to 12 dp and summed as DECIMAL(38,12), so the
    * score is partition-order-independent and bit-replayable by a SQL
    * oracle. Scale posture: wedge generation is Σ C(deg(b), 2) — the
    * inherent cost of the score — and `maxDegree` caps the per-center
    * fan-out (a center with deg > maxDegree contributes ≤ 1/ln(deg),
    * the weakest evidence, so dropping hubs is the standard
    * cost/quality knob, not an approximation of convenience). Three
    * shuffles total: degree agg, wedge self-join on the center, and
    * the pair agg + candidate anti-join on (u,w). */
  /** One-pass kernel behind the `graft_pair_longs` expression: all
    * unordered pairs (lo << 32 | hi) of the array's elements, equal
    * elements skipped — see
    * [[graft.functions.GraftPairLongs]]. */
  def pairLongsKernel(
      a: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = a.numElements()
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    out.sizeHint(n * (n - 1) / 2)
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      var j = i + 1
      while (j < n) {
        val y = a.getLong(j)
        if (x != y) {
          val lo = math.min(x, y)
          val hi = math.max(x, y)
          out += (lo << 32) | hi
        }
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.result())
  }

  private[operators] def pairLongsCol(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.column(
      graft.functions.GraftPairLongs(
        org.apache.spark.sql.graftshim.expression(c)))

  /** Linear-merge intersection of two SORTED distinct long arrays —
    * see [[graft.functions.GraftSortedIntersect]]. */
  def sortedIntersectKernel(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { out += x; i += 1; j += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.result())
  }

  private[operators] def sortedIntersectCol(
      a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.column(
      graft.functions.GraftSortedIntersect(
        org.apache.spark.sql.graftshim.expression(a),
        org.apache.spark.sql.graftshim.expression(b)))

  /** Broadcast envelope (ROW count) for the capped neighbor list in
    * [[adamicAdarImpl]]: the close side of the wedge join is the
    * DEGREE-CAPPED list (≤ maxDegree rows per center — hubs are
    * dropped), so it is usually far smaller than E and broadcasting
    * it lets the Σ C(deg,2)-row wedge stream fuse map-side into the
    * partial (u,w) aggregate with no pre-join exchange. 2M rows ≈ the
    * [[csrMaxOrientedRows]] hashed-relation envelope. Measured at
    * sf0.1 (nb = 390k rows, 17.2M wedges): scored-aggregate 5.0-7.4 s
    * shuffle_hash → 2.6-3.0 s broadcast. Above the envelope the
    * shuffle_hash plan runs — its exchanges scale with cluster width,
    * the 100 TB shape. */
  private val AaBroadcastMaxNbRows = 2000000L

  /** [[GraphTable.adamicAdar]]; the neighbour self-join broadcasts
    * at or below `broadcastMaxNbRows` capped neighbour rows. */
  private[operators] def adamicAdarImpl(
      gt: GraphTable, maxDegree: Int,
      broadcastMaxNbRows: Long = AaBroadcastMaxNbRows): DataFrame = {
    require(gt.numNodes > 0, "graph has no nodes")
    require(gt.numDangling == 0,
      "adamicAdar requires a symmetric double-edged feed " +
        s"(found ${gt.numDangling} sink nodes)")
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val e = gt.edges.where(col("src") =!= col("dst")).select("src", "dst")
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE probe aggregate over the N-row degree table (bounded by N,
    // never the corpus): the capped-neighbor-list row count gates the
    // broadcast; min/max node gate the packed pair key below.
    // Integral node ids only — other types take the unpacked plan.
    val integralNode = e.schema.head.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    // id range probed over ALL of `deg`, never the eligible-center
    // subset: the packed plan packs NEIGHBOR ids (wedge u/w) and every
    // anti-join edge endpoint, and the symmetric-feed precondition
    // makes `deg` cover every endpoint — a ≥2^31 id of degree 1 (or
    // > maxDegree) is invisible to an eligible-only probe yet still
    // appears as a neighbor, and its packed key would alias/overflow.
    val eligDeg =
      when(col("deg") >= 2 && col("deg") <= maxDegree, col("deg"))
    val probe = (if (integralNode)
        deg.agg(
          coalesce(sum(eligDeg), lit(0L)).cast("long").as("nbRows"),
          min(col("node").cast("long")).as("lo"),
          max(col("node").cast("long")).as("hi"))
      else deg.agg(
          coalesce(sum(eligDeg), lit(0L)).cast("long").as("nbRows"),
          lit(-1L).as("lo"), lit(-1L).as("hi"))).head
    val nbRows = probe.getLong(0)
    // packed single-long pair key (u << 32 | w): exact for ids in
    // [0, 2^31) — halves the aggregate's key bytes and hashing work
    // (measured: 2.95 → 2.40 s on the sf0.1 scored aggregate).
    // Bijective on the id range, so the per-pair sums/counts and the
    // anti-join are unchanged value-for-value.
    val packed = integralNode && !probe.isNullAt(1) &&
      probe.getLong(1) >= 0L && probe.getLong(2) < 2147483648L
    // wedge centers: only nodes with 2..maxDegree neighbors can vouch
    // for a pair; the per-center term is fixed, so round it ONCE here
    // — and carry it as exact LONG micro-units (12-dp term × 10¹²,
    // the DECIMAL multiply is exact and the value ≤ 1.45e12) so the
    // Σ-C(deg,2)-row aggregation sums machine longs, not
    // 38-digit decimals; per-pair sums stay ≤ maxDegree·1.45e12,
    // far inside the ANSI long envelope
    val nb = graft.CachePool.swap("graph.adamicadar.nb", e
      .join(deg.select(col("node").as("src"), col("deg")), "src")
      .where(col("deg") >= 2 && col("deg") <= maxDegree)
      .select(col("src").as("b"), col("dst").as("n"),
        (round(lit(1.0) / log(col("deg").cast("double")), 12)
          .cast(DecimalType(14, 12))
          * lit(java.math.BigDecimal.valueOf(1000000000000L)))
          .cast("long").as("units"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    nb.count() // materialize while deg is still cached
    deg.unpersist(blocking = false)
    // The returned plan is LAZY end-to-end (no checkpoint): the old
    // eager materialization wrote every candidate pair (15.7M rows at
    // sf0.1) to checkpoint blocks only for the caller's top-k to
    // re-scan them — dropping it lets a top-k caller fuse into
    // TakeOrdered over the anti-join output (measured: 6.5 → 3.3 s
    // for aggregate + anti + top-20). The nb cache the plan references
    // is generation-tracked in CachePool (the charNgramDetect
    // pattern): the next adamicAdar call or releaseAll frees it, and
    // an evicted cache recomputes from lineage — correctness
    // unaffected. The adjacency anti-join stays shuffle-based —
    // `scored` is already hash-partitioned on the pair key by its own
    // aggregate, so only the E-row edge side exchanges.
    val nbRight = nb.select(col("b"), col("n").as("w"))
    val wedges = nb.select(col("b"), col("n").as("u"), col("units"))
      .join(if (nbRows <= broadcastMaxNbRows) broadcast(nbRight)
        else nbRight.hint("shuffle_hash"), "b")
      .where(col("u") < col("w"))
    val out = if (packed) {
      // A grouped-adjacency `graft_pair_longs` variant was measured
      // SLOWER here (5.8-6.5 s vs 2.3-2.8 s same-session): the
      // collect_list + Generate machinery over 17M-element pair
      // arrays loses to the fully codegen'd broadcast hash probe.
      // The win is the packed single-long aggregate key.
      val nodeType = e.schema.head.dataType
      val scored = wedges
        .select((col("u").cast("long") * lit(4294967296L) +
          col("w").cast("long")).as("uw"), col("units"))
        .groupBy("uw")
        .agg(sum(col("units")).as("aa_units"), count(lit(1)).as("common"))
      scored
        .join(e.select((col("src").cast("long") * lit(4294967296L) +
            col("dst").cast("long")).as("uw")).hint("shuffle_hash"),
          Seq("uw"), "left_anti")
        .select(
          shiftright(col("uw"), 32).cast(nodeType).as("src"),
          col("uw").bitwiseAND(lit(4294967295L)).cast(nodeType).as("dst"),
          col("common"),
          (col("aa_units").cast("double") / lit(1.0e12)).as("aa"))
    } else {
      // non-integral / out-of-range ids: the two-long-key form
      val scored = wedges
        .groupBy("u", "w")
        .agg(sum(col("units")).as("aa_units"), count(lit(1)).as("common"))
      scored
        .join(e.select(col("src").as("u"), col("dst").as("w"))
            .hint("shuffle_hash"),
          Seq("u", "w"), "left_anti")
        .select(col("u").as("src"), col("w").as("dst"), col("common"),
          (col("aa_units").cast("double") / lit(1.0e12)).as("aa"))
    }
    out.orderBy(desc("aa"), col("src"), col("dst"))
  }

  /** Newman modularity of a community assignment over a symmetric
    * double-edged feed: Q = Σ_c [e_c/m − (d_c/m)²] with m the DIRECTED
    * edge count (= 2× undirected), e_c the directed edges inside c,
    * d_c the degree sum of c — the "was this clustering better than
    * chance" score a pipeline checks before trusting
    * [[labelPropagationImpl]]'s output. `labels` is that operator's
    * (node, lbl) shape. Per-community terms are fixed double
    * expressions of exact longs, 12-dp-rounded and DECIMAL-summed (the
    * mutual-information device), so the scalar is partition-order
    * exact. Two label joins + three aggregates; one row out:
    * (modularity, n_communities, m_directed). */
  private[operators] def modularityImpl(
      gt: GraphTable, labels: DataFrame): DataFrame = {
    require(gt.numNodes > 0, "graph has no nodes")
    require(gt.numDangling == 0,
      "modularity requires a symmetric double-edged feed " +
        s"(found ${gt.numDangling} sink nodes)")
    require(Seq("node", "lbl").forall(labels.columns.contains),
      s"labels must carry (node, lbl), got ${labels.columns.toSeq}")
    val e = gt.edges.select("src", "dst")
    val l = labels.select("node", "lbl")
    val md = gt.numEdges.toDouble
    val ein = e
      .join(l.select(col("node").as("src"), col("lbl").as("la")), "src")
      .join(l.select(col("node").as("dst"), col("lbl").as("lb")), "dst")
      .where(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("ein"))
    val deg = e
      .join(l.select(col("node").as("src"), col("lbl")), "src")
      .groupBy("lbl").agg(count(lit(1)).as("dg"))
    deg.join(ein, Seq("lbl"), "left")
      .select(round(
        coalesce(col("ein"), lit(0L)).cast("double") / lit(md) -
          (col("dg").cast("double") / lit(md)) *
          (col("dg").cast("double") / lit(md)), 12)
        .cast(Dec12).as("t"))
      .agg(sum(col("t")).cast("double").as("modularity"),
        count(lit(1)).as("n_communities"))
      .withColumn("m_directed", lit(gt.numEdges))
  }

  /** Project a bipartite (left, right) incidence onto its left nodes:
    * an undirected weighted edge per left pair sharing ≥1 right node,
    * weight = the number of shared rights — the co-purchase /
    * co-occurrence graph builder that feeds [[buildGraphTable]].
    * `maxRightDegree` drops right-side hubs BEFORE the pair expansion:
    * a right node incident to d lefts expands to C(d,2) pairs, so one
    * 100-TB-scale hub (a bestseller part, a boilerplate token) would
    * otherwise dominate the whole job while carrying the least
    * information per pair — the standard cost/quality knob (same
    * argument as [[adamicAdarImpl]]'s cap), applied as an exact
    * degree filter so the result is deterministic and oracle-checkable.
    * Output is oriented (src < dst); union the swap for a symmetric
    * double-edged feed. */
  def bipartiteProject(
      pairs: DataFrame,
      leftCol: String,
      rightCol: String,
      maxRightDegree: Int): DataFrame = {
    require(maxRightDegree >= 2,
      s"maxRightDegree must be >= 2, got $maxRightDegree")
    // No small-graph path here (unlike [[triangleCore]]): `pairs` is an
    // arbitrary frame with no precomputed cardinality to gate on, and
    // a probe pass + broadcast variant measured SLOWER in-bench at
    // sf0.1 (q160 min-of-five floor 3.38→4.27 with them) — the
    // projection's cost is its (src,dst) aggregate exchange either way.
    val lp = pairs
      .select(col(leftCol).as("l"), col(rightCol).as("r")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keep = lp.groupBy("r").agg(count(lit(1)).as("dc"))
      .where(col("dc") <= maxRightDegree)
      .select("r")
    val pruned = graft.CachePool.swap("graph.bipartite.pruned",
      lp.join(keep, "r")
        .persist(StorageLevel.MEMORY_AND_DISK))
    pruned.count() // materialize while lp is still cached
    lp.unpersist(blocking = false)
    // LAZY result (the adamicAdarImpl discipline): the old eager
    // `localCheckpoint` materialized every projected edge only for a
    // top-k caller to re-scan them — dropping it lets the caller's
    // sort/limit fuse into TakeOrdered over the aggregate output. The
    // pruned cache the plan references is generation-tracked in
    // CachePool; an evicted cache recomputes from lineage.
    val lType = pruned.schema.apply("l").dataType
    val integralL = lType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    // id-range probe over the CACHED pruned incidence (one cheap job)
    // gates the packed grouped-pair plan — the adamicAdarImpl device:
    // per-right-node groups are ≤ maxRightDegree (bounded at any
    // scale), `graft_pair_longs` emits exactly C(d, 2) packed pairs
    // map-side (the self-join form probed d² and filtered half), and
    // the pair aggregate hashes ONE long key.
    val packed = integralL && {
      val p = pruned.agg(min(col("l").cast("long")).as("lo"),
        max(col("l").cast("long")).as("hi")).head
      !p.isNullAt(0) && p.getLong(0) >= 0L &&
        p.getLong(1) < 2147483648L
    }
    if (packed)
      pruned.groupBy(col("r"))
        .agg(collect_list(col("l").cast("long")).as("ls"))
        .select(explode(pairLongsCol(col("ls"))).as("uw"))
        .groupBy("uw").agg(count(lit(1)).as("w"))
        .select(
          shiftright(col("uw"), 32).cast(lType).as("src"),
          col("uw").bitwiseAND(lit(4294967295L)).cast(lType).as("dst"),
          col("w"))
    else
      pruned.select(col("r"), col("l").as("src"))
        .join(pruned.select(col("r"), col("l").as("dst"))
          .hint("shuffle_hash"), "r")
        .where(col("src") < col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }
}
