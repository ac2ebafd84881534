package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import Dedup._

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("shingles: distinct char n-grams; short text -> empty") {
    val df = docs((1L, "abcab"), (2L, "ab"))
    val got = df.select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(got(1L) === Set("abc", "bca", "cab"))
    assert(got(2L) === Set.empty)
  }

  test("jaccard exact value") {
    val df = docs((1L, "x")).select(
      jaccard(array(lit("a"), lit("b"), lit("c")),
        array(lit("b"), lit("c"), lit("d"))).as("j"))
    assert(df.head().getDouble(0) === 0.5)
  }

  test("exactKeepers keeps lowest id per distinct text") {
    val df = docs((5L, "aaa"), (2L, "aaa"), (3L, "bbb"))
    val got = exactKeepers(df).orderBy("keep_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((2L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds all high-jaccard pairs the exact oracle finds") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val rows = Seq(
      1L -> base,
      2L -> (base + " x"),         // near-dup of 1
      3L -> base.replace("quick", "slow"), // near-dup of 1
      4L -> "completely different content with nothing shared at all here zzz",
      5L -> "another unrelated document talking about spark and scala engines")
    val df = docs(rows: _*)
    val exact = ngramJaccardPairs(df, n = 5, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = minhashDedupPairs(df, n = 5, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "oracle should find near-dups")
    // LSH precision is exact (post-filter); recall should be total here
    assert(lsh === exact)
  }

  test("minhash index probe: delta×corpus pairs only, equals direct LSH") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val corpus = docs(
      1L -> base,
      3L -> base.replace("quick", "slow"),   // near-dup of 1 (and of 10)
      4L -> "completely different content with nothing shared at all here zzz")
    val delta = docs(
      10L -> (base + " x"),                  // near-dup of corpus 1 and 3
      11L -> "another unrelated document talking about spark and scala engines")
    val path = sys.props("java.io.tmpdir") +
      s"/graft_mhidx_spec_${ProcessHandle.current().pid()}"
    writeMinhashIndex(corpus, path, n = 5)
    val got = probeMinhashIndex(spark, path, corpus, delta,
        n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact cross pairs from the all-pairs oracle, restricted to the split
    val exact = ngramJaccardPairs(corpus.unionByName(delta), n = 5,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => b >= 10L && a < 10L }
      .toSet.map((p: (Long, Long)) => (p._2, p._1))
    assert(exact.nonEmpty, "split should cross a near-dup pair")
    assert(got === exact) // no corpus-corpus or delta-delta pairs leak in
  }

  test("simhash: identical texts have hamming 0; pairs found in bucket") {
    val df = docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words entirely"))
    val fps = df.select(simhash(col("text")).as("fp")).collect().map(_.getLong(0))
    assert(fps(0) === fps(1))
    val pairs = simhashPairs(df, maxHamming = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashPairs rejects pathological radii loudly") {
    val df = docs((1L, "alpha"), (2L, "beta"))
    intercept[IllegalArgumentException](Dedup.simhashPairs(df, maxHamming = 32))
    intercept[IllegalArgumentException](Dedup.simhashPairs(df, maxHamming = -1))
  }

  test("embedding near-dup: parallel vectors above threshold") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(2f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val pairs = embeddingNearDupPairs(df, 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("simhash pigeonhole banding recall equals brute-force Hamming pairs") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxH = 12
    val fp = df.select(col("doc_id").as("id"), simhash(col("text")).as("fp"))
    val brute = fp.toDF("id_a", "fp_a")
      .crossJoin(fp.toDF("id_b", "fp_b"))
      .where(col("id_a") < col("id_b"))
      .where(hamming(col("fp_a"), col("fp_b")) <= maxH)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = simhashPairs(df, maxHamming = maxH)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "corpus must contain pairs within the radius")
    // pigeonhole banding: ≤ maxH differing bits cannot touch all
    // maxH+1 bands, so candidate recall (and hence final recall after
    // the exact Hamming filter) is 1 — not probabilistic
    assert(banded === brute)
  }

  test("banded LSH near-dup equals brute force on planted near-dups") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .where(col("vec_id") < 100)
    // plant near-dups: per-element gaussian noise, deterministic seed
    val rnd = new scala.util.Random(9)
    val pert = emb.collect().map { r =>
      val v = r.getSeq[Float](1).toArray
        .map(x => x + (rnd.nextGaussian() * 0.01).toFloat)
      (r.getLong(0) + 1000L, v)
    }.toSeq.toDF("vec_id", "embedding")
    val union = emb.union(pert)
    val brute = Similarity.bruteForcePairs(union, 0.98)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(union, 0.98, nBands = 6,
        planesPerBand = 8, seed = 33L)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size >= 90, s"planted pairs should survive, got ${brute.size}")
    // precision is exact by construction (post-verify); recall on
    // near-parallel pairs is 1 - (1-p^8)^6 with p ≈ 1 - θ/π ≈ 0.99
    assert(lsh === brute)
  }

  test("appendToMinhashIndex ≡ one-shot build; probes agree") {
    val all = docs((0 until 60).map(i =>
      (i.toLong, s"document number $i with shared boilerplate text")): _*)
    val half1 = all.where("doc_id < 30")
    val half2 = all.where("doc_id >= 30")
    val d1 = java.nio.file.Files.createTempDirectory("graft_mha_").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_mhb_").toString
    Dedup.writeMinhashIndex(all, s"$d1/idx", n = 8)
    Dedup.writeMinhashIndex(half1, s"$d2/idx", n = 8)
    Dedup.appendToMinhashIndex(spark, s"$d2/idx", half2, n = 8)
    def rows(p: String) = spark.read.parquet(
        graft.sources.Artifacts.latestDir(spark, p) + "/bands")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(s"$d2/idx") === rows(s"$d1/idx"))
    intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(spark, s"$d2/nonexistent", half2, n = 8)
    }
  }

  test("semDedup drops higher-id near-dups within a cluster ONLY") {
    import spark.implicits._
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val rows = Seq(
      (1L, Array(0.9f, 0.1f)),    // cluster 0
      (2L, Array(0.9001f, 0.1f)), // ~parallel to 1, cluster 0 → dropped
      (3L, Array(0.8f, 0.75f)),   // cluster 0 (0.6025 < 0.7025)
      (4L, Array(0.75f, 0.8f)),   // cluster 1 — cos(3,4) ≈ 0.998 but
                                  // cross-cluster: BOTH kept
      (5L, Array(0.1f, 0.95f))    // cluster 1, not near anything
    ).toDF("vec_id", "embedding").repartition(3)
    val got = Dedup.semDedup(rows, cents, threshold = 0.99)
      .collect().map(r => r.getLong(1) -> (r.getInt(0), r.getInt(2))).toMap
    assert(got.view.mapValues(_._1).toMap ===
      Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1))
    assert(got.view.mapValues(_._2).toMap ===
      Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 1))
  }

  test("bloom gate ≡ anti-join at any fpp; all-dup and all-new edges") {
    val corpus = docs((0 until 200).map(i => (i.toLong, s"corpus text $i")): _*)
      .repartition(5)
    // 40 re-sent corpus texts under new ids + 60 novel texts
    val batch = docs(
      ((0 until 40).map(i => (1000L + i, s"corpus text ${i * 3}")) ++
        (0 until 60).map(i => (2000L + i, s"novel text $i"))): _*)
      .repartition(3)
    val expect = (0 until 60).map(2000L + _).toSeq.sorted
    // fpp 0.4: heavy false-positive pressure — the exact verify must
    // still produce the anti-join result bit-for-bit
    for (fpp <- Seq(0.01, 0.4)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_bloom_spec_$fpp").toString
      writeBloomGate(corpus, s"$dir/b", fpp = fpp)
      val got = probeBloomGate(spark, s"$dir/b", corpus, batch)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got === expect, s"fpp $fpp")
      // all-dup batch -> empty; all-new batch -> everything passes
      val allDup = probeBloomGate(spark, s"$dir/b", corpus,
        corpus.limit(10)).count()
      assert(allDup === 0L, s"fpp $fpp")
      val allNew = probeBloomGate(spark, s"$dir/b", corpus,
        docs((0 until 7).map(i => (9000L + i, s"unseen $i")): _*))
      assert(allNew.count() === 7L, s"fpp $fpp")
    }
  }
}

class SimilaritySpec extends SparkSpec {
  import Similarity._

  test("clusterKnnJoin equals a per-cluster brute KNN; cluster-bounded") {
    import spark.implicits._
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val rnd = new scala.util.Random(41L)
    val rows = (0 until 40).map(i =>
      (i.toLong, Array(rnd.nextFloat(), rnd.nextFloat())))
    val df = rows.toDF("vec_id", "embedding").repartition(4)
    def sq(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val cl = rows.map { case (id, e) =>
      id -> (if (sq(e, cents(0)) <= sq(e, cents(1))) 0 else 1)
    }.toMap
    val exp = rows.flatMap { case (qid, qe) =>
      rows.filter { case (nid, _) => nid != qid && cl(nid) == cl(qid) }
        .map { case (nid, ne) => (nid, sq(qe, ne)) }
        .sortBy { case (nid, d) => (d, nid) }
        .take(3).zipWithIndex
        .map { case ((nid, d), r) => (qid, (r + 1).toLong, nid, d) }
    }.sortBy(t => (t._1, t._2))
    val got = Similarity.clusterKnnJoin(df, cents, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got === exp)
    // every neighbor is in its query's cluster (the nprobe=1 bound)
    got.foreach { case (q, _, n, _) => assert(cl(q) === cl(n)) }
  }

  test("bruteForceTopK returns exact top-k by dot, id tiebreak") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(3f, 0f)),
      (3L, Array(2f, 0f)), (4L, Array(3f, 0f)))
      .toDF("vec_id", "embedding")
    val got = bruteForceTopK(df, Array(1f, 0f), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((2L, 3.0), (4L, 3.0), (3L, 2.0)))
  }

  test("hyperplanes are deterministic in seed") {
    val a = hyperplanes(7L, 3, 8)
    val b = hyperplanes(7L, 3, 8)
    assert(a.flatten.toSeq === b.flatten.toSeq)
    assert(a.flatten.forall(v => v >= -1f && v <= 1f))
    val c = hyperplanes(8L, 3, 8)
    assert(a.flatten.toSeq !== c.flatten.toSeq)
  }

  test("lshTopK finds the query vector itself (same bucket by definition)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") === 3).select(col("embedding"))
      .head().getSeq[Float](0).toArray
    val got = lshTopK(emb, q, 5, seed = 42L, nPlanes = 4)
      .collect().map(_.getLong(0))
    assert(got.contains(3L))
  }

  test("lshTopK results are a subset of brute-force ranking order") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray
    val brute = bruteForceTopK(emb, q, 1000).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = lshTopK(emb, q, 10, seed = 42L, nPlanes = 6).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // scores must agree exactly with the brute-force scores
    lsh.foreach { case (id, s) => assert(math.abs(brute(id) - s) < 1e-9) }
  }

  test("containment catches wholesale inclusion that Jaccard dilutes") {
    import spark.implicits._
    val short = "the quick brown fox jumps"
    val long = "PREFIX PADDING TEXT " * 8 + short + " SUFFIX TRAILER " * 8
    val df = Seq((1L, short), (2L, long), (3L, "completely different words here"))
      .toDF("doc_id", "text")
    // every 5-gram of the short doc appears in the long one
    val got = Dedup.ngramContainmentPairs(df, n = 5, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    assert(got.length === 1)
    val (a, b, cab, cba) = got.head
    assert((a, b) === ((1L, 2L)))
    assert(cab === 1.0)   // short fully inside long
    assert(cba < 0.5)     // but the long doc is NOT inside the short
    // and symmetric Jaccard at the same bar would have missed it
    assert(Dedup.ngramJaccardPairs(df, n = 5, threshold = 0.9)
      .collect().isEmpty)
  }

  test("containment maxDocFreq valve: identity below the cap, drops hot shingles above") {
    import spark.implicits._
    val short = "the quick brown fox jumps"
    val long = "PREFIX PADDING TEXT " * 8 + short + " SUFFIX TRAILER " * 8
    val df = Seq((1L, short), (2L, long), (3L, "completely different words here"))
      .toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).sorted.toSeq
    // (a) valve set ABOVE every shingle's document frequency (3 docs →
    //     df ≤ 3): result must be bitwise identical to valve-off
    assert(
      rows(Dedup.ngramContainmentPairs(df, n = 5, threshold = 0.9,
        maxDocFreq = Some(3))) ===
        rows(Dedup.ngramContainmentPairs(df, n = 5, threshold = 0.9)))
    // (b) a boilerplate shingle present in EVERY doc: the valve at
    //     cap 2 removes it from sizes AND intersections — capped-universe
    //     containment — while valve-off counts it
    val boiler = " SHARED-BOILERPLATE-BANNER"
    val df2 = Seq((1L, short + boiler), (2L, long + boiler),
      (3L, "completely different words here" + boiler)).toDF("doc_id", "text")
    val valved = Dedup.ngramContainmentPairs(df2, n = 5, threshold = 0.9,
      maxDocFreq = Some(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc1 is still fully contained in doc2 on the capped universe
    assert(valved === Set((1L, 2L)))
    // and the capped pipeline never scored the (1,3)/(2,3) pairs that
    // share ONLY the boilerplate shingles: threshold 0 keeps every
    // scored pair, so absence proves the hot shingles never joined
    val scored = Dedup.ngramContainmentPairs(df2, n = 5, threshold = 0.0,
      maxDocFreq = Some(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!scored.contains((1L, 3L)) && !scored.contains((2L, 3L)))
    // while valve-off DOES score them (the m² fan-out the valve exists
    // to prevent)
    val unscored = Dedup.ngramContainmentPairs(df2, n = 5, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unscored.contains((1L, 3L)) && unscored.contains((2L, 3L)))
  }
}
