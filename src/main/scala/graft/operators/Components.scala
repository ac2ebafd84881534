package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Connected components over an edge list — the canonical post-pass of
  * every near-duplicate pipeline: the pair emitters ([[Dedup]]'s
  * n-gram / MinHash / SimHash / embedding paths) produce EDGES, but a
  * curation run needs CLUSTERS (duplicate groups can chain: A≈B, B≈C
  * with A≉C must still collapse to one keeper). The component label is
  * the minimum member id, so the keeper rule "lowest id survives"
  * falls out of the labeling itself.
  *
  * The reference has no graph surface (its dedup analog is the exact
  * per-cluster regrouping, `Main.java:345-355`); this operator is part
  * of the beyond-reference training-data-pipeline tier.
  *
  * Algorithm: iterative min-label propagation with pointer jumping
  * (path halving), the DataFrame rendering of the classic
  * MapReduce/Pregel CC loop:
  *   1. every node offers its current label to each neighbor; a node
  *      keeps the min of its own label and all offers (one shuffle:
  *      groupBy id + min);
  *   2. labels then chase their parents — lbl ← label(lbl), one
  *      self-join — which halves label-chain lengths and turns the
  *      O(diameter) propagation into O(log diameter) rounds (same
  *      contraction Kiveris et al.'s large-star performs);
  *   3. stop when a round changes no label.
  *
  * 100 TB posture: each round is a constant number of shuffles over
  * the (id, lbl) table — 16 bytes per node — plus one pass of the edge
  * list; no step is ever quadratic in a component's size. The loop
  * runs on [[Graph.VertexProgram]]: a round references the previous
  * labels THREE times (offer union, pointer-jump self-join,
  * convergence diff), so without its per-round checkpoint the logical
  * plan would grow ~4^rounds and Catalyst analysis — not the data —
  * would become the bottleneck by round 8 (measured: the suite hangs).
  * Near-dup graphs are near-forests of tiny cliques, so
  * rounds-to-fixpoint is small (single digits) regardless of corpus
  * size.
  */
object Components {

  /** Label every node of the undirected graph `edges` (columns
    * `srcCol`, `dstCol`, any integral type; self-loops and duplicate /
    * reversed edges are fine) with its component's minimum node id.
    *
    * Returns (`id`: long, `component`: long), one row per distinct
    * node that appears in any edge. Isolated nodes never appear in an
    * edge list; callers wanting them keep `component = id` via a left
    * join on the node table.
    *
    * @param maxRounds hard stop (with a loud error) — a fixpoint this
    *   slow means the input is not a near-dup graph; O(log diameter)
    *   rounds are expected, so the default 25 covers diameters beyond
    *   any physical corpus.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxRounds: Int = 25): DataFrame =
    connectedComponents(edges, srcCol, dstCol, maxRounds,
      Graph.maxDriverLoopEdges(edges.sparkSession))

  /** [[connectedComponents]] on the driver twin at or below
    * `maxDriverRows` undirected edge rows (both orientations). */
  private[operators] def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String, maxRounds: Int,
      maxDriverRows: Long): DataFrame = {
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    val src = col(srcCol).cast("long").as("_g_src")
    val dst = col(dstCol).cast("long").as("_g_dst")
    // Undirected: both orientations. Duplicate edges survive the union
    // unde-duplicated on purpose — min() is idempotent, and a distinct
    // here would cost a full extra shuffle of the edge list.
    val und = edges.select(src, dst)
      .unionAll(edges.select(dst.as("_g_src"), src.as("_g_dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the cache and size the gate in one job
      val nRows = und.count()
      // driver-resident twin (the Graph loop-twin device): under the
      // loop twins' edge gate, which counts the same doubled rows, the
      // SAME min-label + pointer-jump rounds run over dense int arrays
      // on the driver — one collect of the cached primitive pairs, zero
      // per-round shuffles, IDENTICAL round function and maxRounds
      // throw. Above the gate the distributed loop below runs (the
      // 100 TB path).
      if (nRows <= maxDriverRows)
        return driverComponents(und, maxRounds)

      Graph.vertexProgram(nRows, und, "_g_src") { vp =>
        // the executor's copy of `und`, co-partitioned on the offering
        // side, is primed: the gate's copy is dead
        und.unpersist(blocking = false)
        val init = vp.checkpoint(vp.edges.select(col("_g_src").as("node"))
          .distinct()
          .withColumn("lbl", col("node")))
        val (labels, converged) = vp.loop(init, maxRounds) { (labels, _) =>
          // (1) offer labels across edges, keep the per-node min
          val offers = vp.gather(labels)
            .select(col("_g_dst").as("node"), col("lbl"))
          val merged = labels.select("node", "lbl").unionAll(offers)
            .groupBy("node").agg(min("lbl").as("lbl"))
          // (2) pointer jump: lbl ← label(lbl). Every label is a node id
          // (min over ids), so the inner self-join matches every row.
          val parents = merged.select(col("node").as("p_id"),
            col("lbl").as("p_lbl"))
          vp.checkpoint(merged
            .join(parents, merged("lbl") === parents("p_id"))
            .select(col("node"), col("p_lbl").as("lbl")))
        } { (labels, jumped) =>
          // (3) converged iff no label moved. Labels only ever decrease,
          // so "changed" is exactly "new < old".
          jumped.as("n")
            .join(labels.as("o"), col("n.node") === col("o.node"))
            .where(col("n.lbl") < col("o.lbl"))
            .limit(1).count() == 0L
        }
        if (!converged) throw tooDeep(maxRounds)
        labels.select(col("node").as("id"), col("lbl").as("component"))
      }
    } finally und.unpersist(blocking = false)
  }

  /** Driver-resident twin of the min-label + pointer-jump loop: the
    * cached (src, dst) pairs are collected ONCE as primitive long
    * arrays, node ids sorted so dense-index comparisons ARE value
    * comparisons, and the IDENTICAL round function (offer-min, jump
    * lbl ← lbl(lbl), stop when no label strictly decreases — including
    * the loud maxRounds throw) runs over int arrays. All operations
    * are exact mins over ids, so the labels equal the distributed
    * loop's bit-for-bit (ComponentsSpec pins gate parity). */
  private def driverComponents(
      und: DataFrame, maxRounds: Int): DataFrame = {
    val spark = und.sparkSession
    val parts = und.rdd.mapPartitions { rows =>
      val a = new scala.collection.mutable.ArrayBuilder.ofLong
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach { r => a += r.getLong(0); b += r.getLong(1) }
      Iterator.single((a.result(), b.result()))
    }.collect()
    // distinct sorted node ids (und carries both directions, so the
    // src side alone covers src ∪ dst — the labels-init convention)
    val ids: Array[Long] = {
      val all = new scala.collection.mutable.ArrayBuilder.ofLong
      parts.foreach { case (a, _) => all ++= a }
      val sorted = all.result()
      java.util.Arrays.sort(sorted)
      var n = 0
      var i = 0
      while (i < sorted.length) {
        if (n == 0 || sorted(n - 1) != sorted(i)) {
          sorted(n) = sorted(i); n += 1
        }
        i += 1
      }
      java.util.Arrays.copyOf(sorted, n)
    }
    val n = ids.length
    val es = new scala.collection.mutable.ArrayBuilder.ofInt
    val ed = new scala.collection.mutable.ArrayBuilder.ofInt
    parts.foreach { case (a, b) =>
      var i = 0
      while (i < a.length) {
        es += java.util.Arrays.binarySearch(ids, a(i))
        ed += java.util.Arrays.binarySearch(ids, b(i))
        i += 1
      }
    }
    val s = es.result()
    val d = ed.result()
    val (lbl, converged) =
      Graph.rounds(Array.tabulate(n)(identity), maxRounds) { (lbl, _) =>
        // (1) offer labels across edges, keep the per-node min
        val merged = lbl.clone()
        var k = 0
        while (k < s.length) {
          val l = lbl(s(k))
          if (l < merged(d(k))) merged(d(k)) = l
          k += 1
        }
        // (2) pointer jump: lbl ← label(label-node)
        Array.tabulate(n)(i => merged(merged(i)))
      } { (lbl, jumped) => !lbl.indices.exists(i => jumped(i) < lbl(i)) }
    if (!converged) throw tooDeep(maxRounds)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("component", LongType, nullable = false)))
    spark.createDataFrame(
      ids.indices.map(i =>
        Row(ids(i), ids(lbl(i)))).asJava,
      schema)
  }

  /** The loud `maxRounds` stop of both loop bodies: a fixpoint this
    * slow means the input is not a near-dup graph. */
  private def tooDeep(maxRounds: Int) = new IllegalArgumentException(
    s"connectedComponents did not converge in $maxRounds rounds — " +
      "the input is pathologically deep for a near-dup graph")

  /** Duplicate clusters straight from a pair list (`idA`, `idB` — the
    * shape every [[Dedup]] pair emitter returns): each doc that occurs
    * in any pair, labeled with its cluster's keeper (minimum doc id).
    */
  def dedupClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame =
    connectedComponents(pairs, idA, idB)
      .select(col("id").as("doc_id"), col("component").as("keep_id"))
}
