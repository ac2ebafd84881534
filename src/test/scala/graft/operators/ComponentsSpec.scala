package graft.operators

import scala.util.Random

import graft.SparkSpec

class ComponentsSpec extends SparkSpec {

  /** reference union-find (path compression, no ranks — test-scale) */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min member id; min-root merging above keeps
    // roots minimal, so find() already yields it
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random graphs match union-find") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 25
      val edges = Seq.fill(n)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      assert(run(edges) === unionFind(edges), s"trial $trial")
    }
  }

  test("a long chain collapses to one component (pointer-jump depth)") {
    // path graph 0-1-2-...-200: worst diameter per node count; pointer
    // jumping must close it within the default round budget
    val edges = (0L until 200L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.size === 201)
    assert(got.values.toSet === Set(0L))
  }

  test("self-loops, duplicate and reversed edges are harmless") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (9L, 3L))
    assert(run(edges) ===
      Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 9L -> 3L, 3L -> 3L))
  }

  test("dedupClusters labels every paired doc with its min-id keeper") {
    import spark.implicits._
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L))
      .toDF("id_a", "id_b")
    val got = Components.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L))
  }

  test("driver twin auto-selects by maxDriverLoopEdges; both sides " +
    "bit-identical (incl. the loud maxRounds throw)") {
    import spark.implicits._
    val rnd = new Random(7)
    val edges = Seq.fill(150)(
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)).toDF("src", "dst")
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rows > 0 → the DISTRIBUTED loop
    val viaDist = labels(Components.connectedComponents(edges, "src", "dst",
      25, maxDriverRows = 0L))
    val distThrow = intercept[IllegalArgumentException] {
      Components.connectedComponents(chain, "src", "dst", 1, maxDriverRows = 0L)
    }
    // the 8M-row default gate → the DRIVER twin
    val viaDriver = labels(Components.connectedComponents(edges))
    val driverThrow = intercept[IllegalArgumentException] {
      Components.connectedComponents(chain, maxRounds = 1)
    }
    assert(viaDist === viaDriver)
    assert(distThrow.getMessage === driverThrow.getMessage)
  }

  test("maxRounds failure is loud") {
    import spark.implicits._
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Components.connectedComponents(chain, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }
}
