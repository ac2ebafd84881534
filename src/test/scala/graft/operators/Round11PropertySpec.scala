package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Seeded random-case invariants for the round-11 devices: each test
  * replays many generated cases against an independent in-memory
  * replica (the Round8PropertySpec device). */
class Round11PropertySpec extends SparkSpec {

  test("native-loop argmin (assignCol) ≡ the compiled running min at " +
    "every k, including exact-tie inputs") {
    import graft.functions.VectorFunctions.{argminCentroid, assignCol}
    import spark.implicits._
    val rnd = new scala.util.Random(53L)
    val dim = 3
    // quantized coordinates make exact distance TIES common — the
    // strict-`<` loop must pick the lowest index on precisely those
    def vec(): Array[Float] =
      Array.fill(dim)((rnd.nextInt(5) * 0.25).toFloat)
    // points once per spark job set; k sweeps 1 through 64
    val pts = (0 until 120).map(i => (i.toLong, vec()))
    val df = pts.toDF("id", "v")
    for (k <- Seq(1, 2, 15, 16, 17, 31, 33, 64)) {
      val cents = Array.fill(k)(vec())
      val got = df.select(col("id"), assignCol(col("v"), cents).as("c"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      pts.foreach { case (id, v) =>
        assert(got(id) === argminCentroid(v, cents), s"k=$k id=$id")
      }
    }
  }

  test("simhash banding (pairsFromFp) has recall 1 and exact precision " +
    "vs brute-force Hamming over random fingerprints at random radii") {
    import spark.implicits._
    val rnd = new scala.util.Random(59L)
    for (trial <- 0 until 4) {
      val radius = Seq(2, 3, 6, 11)(trial)
      // cluster fingerprints around a few seeds so near pairs exist:
      // flip up to `radius + 4` random bits of a shared seed
      val seeds = Array.fill(5)(rnd.nextLong())
      val fps = (0 until 80).map { i =>
        var fp = seeds(rnd.nextInt(seeds.length))
        val flips = rnd.nextInt(radius + 5)
        (0 until flips).foreach(_ => fp ^= (1L << rnd.nextInt(64)))
        (i.toLong, fp)
      }
      val brute = (for {
        (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
        d = java.lang.Long.bitCount(fa ^ fb) if d <= radius
      } yield (ia, ib, d)).toSet
      val got = Dedup.simhashPairsFromFp(fps.toDF("id", "fp"), radius)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(got === brute, s"radius=$radius")
    }
  }

  test("jpegDecodeAudit holds across every id of the recipe domain " +
    "(DC quantization never exceeds the tolerance on a flat field)") {
    // the q188 contract depends on the codec's quantization staying
    // inside tol for EVERY recipe level, not just the sampled ids —
    // sweep all 251 distinct levels via ids 0..250 driver-side
    (0L until 251L).foreach { id =>
      val v = Multimodal.jpegFlatLevel(id)
      val feats = Multimodal.imageDecodeFeatures(
        Multimodal.jpegPayload(id, 8), 8)
      feats.foreach(f => assert(math.abs(f - v / 255.0f) <= 8.0f / 255.0f,
        s"id=$id level=$v feature=$f"))
    }
  }

  test("iterative graph bodies are partitioning-invariant: PageRank / " +
    "PPR / HITS / LPA bit-identical under 1, 3, and 32 shuffle " +
    "partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(61L)
    val edges = (0 until 400).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).distinct
    val seeds = Seq(1L, 7L).toDF("node")
    def runAll(): Seq[Seq[Any]] = {
      val e = edges.toDF("src", "dst")
      Seq(
        GraphSpec.onTable(e)(gt => Graph.pageRankImpl(gt, iters = 5,
            damping = 0.85, danglingCorrection = true, epsilon = None,
            distributed = Some(true)))
          .collect().toSeq.map(_.toSeq),
        GraphSpec.onTable(e)(_.personalizedPageRank(seeds, iters = 5))
          .collect().toSeq.map(_.toSeq),
        GraphSpec.onTable(e)(_.hits(iters = 5))
          .collect().toSeq.map(_.toSeq),
        GraphSpec.onTable(e)(_.labelPropagation(iters = 4))
          .collect().toSeq.map(_.toSeq),
        Components.connectedComponents(e, "src", "dst")
          .orderBy("id").collect().toSeq.map(_.toSeq)).flatten
    }
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    // the scoped override clamps to the SESSION setting, so varying
    // the session setting varies the loops' actual task counts
    val bySetting = Seq("1", "3", "32").map { p =>
      spark.conf.set(key, p)
      try runAll() finally spark.conf.set(key, old)
    }
    assert(bySetting(0) === bySetting(1))
    assert(bySetting(1) === bySetting(2))
  }
}
