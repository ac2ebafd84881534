package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Deduplication operators for training-data pipelines, from exact to
  * approximate:
  *
  *   - exact: hash-groupBy (one shuffle on a 64-bit fingerprint, not the
  *     full text — at 100 TB the shuffle carries 8-byte keys);
  *   - n-gram Jaccard: exact set similarity on character shingles
  *     (bounded candidate sets; the test oracle for MinHash);
  *   - MinHash + LSH banding: shingle → signature → band → bucket-join;
  *     the scale path — candidate pairs come from Σ bucket² instead of n²;
  *   - SimHash: 64-bit sign-of-weighted-sum fingerprint; near-dup =
  *     small Hamming distance, bucketed by prefix;
  *   - embedding cosine near-dup: delegates to [[Similarity]].
  *
  * Everything is declarative Column expressions (codegen'd); the only
  * shuffles are the groupBys on compact keys.
  */
object Dedup {

  // ------------------------------------------------- compiled hash core
  //
  // MinHash/SimHash kernels are compiled Scala (tight loops over the
  // text, one 64-bit hash per shingle/token, then cheap mixing per hash
  // function) rather than nested higher-order Column expressions:
  // Catalyst evaluates HOF lambdas interpreted per element, which
  // measured ~200s for 5000 docs at 64 hashes — the compiled kernel is
  // the same math at JIT speed, and at scale the shuffle carries 8-byte
  // hashes instead of string shingles.

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a over the n chars at `start`, avalanched. Deterministic,
    * allocation-free (no substring). */
  @inline private def shingleHash(text: String, start: Int, n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = start
    val end = start + n
    while (i < end) { h ^= text.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Distinct character-n-gram hashes of `text`, sorted (so array
    * equality and merge-joins are deterministic). */
  def shingleHashSet(text: String, n: Int): Array[Long] = {
    if (text == null || text.length < n) return Array.emptyLongArray
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    val last = text.length - n
    while (i <= last) { set.add(shingleHash(text, i, n)); i += 1 }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Jaccard of two sorted distinct long arrays via linear merge. */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** [[jaccardSorted]] as a pure-builtin Column over DISTINCT-element
    * arrays (shingleHashSet output is sorted-distinct):
    * |a∩b| / |a∪b| via `array_intersect`/`array_union` — codegen'd,
    * no UDF serialization boundary on the verify stage, and the same
    * one int-over-int double division (bit-identical scores). */
  def jaccardCol(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === lit(0.0), lit(0.0)).otherwise(inter / union)
  }

  /** LSH band hashes of `text`: minhash signature of `bands*rowsPerBand`
    * hash functions (h_k(x) = mix64(x ^ seed_k) over the distinct
    * shingle hashes), folded into one 64-bit hash per band. One pass
    * over the text, numHashes mixes per distinct shingle. */
  def minhashBandHashes(
      text: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int): Array[Long] = {
    if (text == null || text.length < n) return Array.emptyLongArray
    val numHashes = bands * rowsPerBand
    val seeds = Array.tabulate(numHashes)(k => mix64(0x5851f42d4c957f2dL * k))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val seen = new java.util.HashSet[java.lang.Long]()
    var i = 0
    val last = text.length - n
    while (i <= last) {
      val h0 = shingleHash(text, i, n)
      if (seen.add(h0)) {
        var k = 0
        while (k < numHashes) {
          val h = mix64(h0 ^ seeds(k))
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    Array.tabulate(bands) { b =>
      var acc = mix64(b.toLong)
      var r = 0
      while (r < rowsPerBand) { acc = mix64(acc ^ mins(b * rowsPerBand + r)); r += 1 }
      acc
    }
  }

  /** Regex-`\s` test, EXACTLY `[ \t\n\x0B\f\r]` — the same token
    * boundaries as `split(text, "\\s+")` and Curation's kernels, so
    * "token" means one thing across the library (`Character
    * .isWhitespace` would also accept U+001C–001F and Unicode spaces). */
  @inline private def isSpaceRe(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** 64-bit SimHash over whitespace tokens, one compiled pass: token →
    * 64-bit hash, ±1 vote per bit, fingerprint = sign bits. */
  def simhashFn(text: String): Long = {
    val votes = new Array[Int](64)
    if (text != null) {
      var i = 0
      val len = text.length
      while (i < len) {
        while (i < len && isSpaceRe(text.charAt(i))) i += 1
        val start = i
        while (i < len && !isSpaceRe(text.charAt(i))) i += 1
        if (i > start) {
          val h = shingleHash(text, start, i - start)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
      }
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  // ------------------------------------------------------------- exact

  /** Exact dedup: keep the lowest id per distinct value of `textCol`.
    * Grouping key is the 64-bit xxhash of the text so the shuffle moves
    * hashes, not documents; collision verification can be layered on by
    * grouping on (hash, text) — at 64 bits collisions are ~n²/2⁶⁵. */
  def exactKeepers(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Exact dedup returning the surviving rows. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  // ------------------------------------------------- Bloom-gated dedup

  /** Build a Bloom-filter GATE over the corpus's exact 64-bit text
    * fingerprints and persist it as a one-row binary parquet artifact —
    * the sketch tier of the incremental-dedup lifecycle (the
    * [[writeMinhashIndex]] precedent at sketch size): a batch row whose
    * fingerprint MISSES the filter is definitely novel and never joins
    * anything; only the hits (true dups + the fpp share) reach the
    * exact verify. Sized from the corpus count at `fpp`; at 1e9 docs
    * and fpp 0.01 the filter is ~1.2 GB — an executor-broadcast
    * envelope to size deliberately (raise fpp to shrink it; the exact
    * verify keeps the RESULT exact at any fpp). */
  def writeBloomGate(
      df: DataFrame,
      path: String,
      fpp: Double = 0.01,
      textCol: String = "text"): Unit = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val spark = df.sparkSession
    import spark.implicits._
    val fps = df.select(xxhash64(col(textCol)).as("fp"))
    val n = math.max(fps.count(), 1L)
    val bf = fps.stat.bloomFilter("fp", n, fpp)
    val os = new java.io.ByteArrayOutputStream()
    bf.writeTo(os)
    graft.sources.Artifacts.publishVersion(spark, path) { vdir =>
      Seq(Tuple1(os.toByteArray)).toDF("bloom")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/bloom")
    }
  }

  /** Probe the persisted Bloom gate with an ingest batch: returns the
    * batch's NOVEL ids (`idCol` rows whose text is not in the corpus)
    * — exactly the anti-join result, at sketch cost for the novel
    * majority. Misses pass map-side (broadcast filter probe — the UDF
    * is kernel-only: no builtin probes a sketch); hits are verified
    * against the corpus fingerprints with the [[probeMinhashIndex]]
    * prune: the suspect fingerprints (|dups| + fpp·|batch| — small)
    * broadcast-semi-join the corpus so only matching corpus rows are
    * read, then an anti-join against that bounded dup set. The 100-TB
    * corpus is never shuffled; false positives are eliminated by the
    * verify, so the result is exact at any fpp. */
  def probeBloomGate(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val vdir = graft.sources.Artifacts.latestDir(spark, path, "Bloom gate")
    val bytes = spark.read.parquet(s"$vdir/bloom")
      .head().getAs[Array[Byte]]("bloom")
    // Native codegen'd probe: BloomFilterMightContain over the sketch
    // bytes as a foldable Literal — the expression deserializes the
    // filter ONCE lazily and stays inside whole-stage codegen (the
    // engine's last sketch-path ScalaUDF, graduated r12; the persisted
    // bytes are Spark's sketch wire format, so the artifact is
    // unchanged). PlanSpec pins the no-UDF plan.
    val might = graft.functions.GraftExtensions.bloomMightContain(
      bytes, xxhash64(col(textCol)))
    val b = batch.select(col(idCol), xxhash64(col(textCol)).as("fp"),
      might.as("hit"))
    val certainNew = b.where(!col("hit")).select(idCol)
    val suspects = b.where(col("hit")).select(idCol, "fp")
    val dupFps = corpus.select(xxhash64(col(textCol)).as("fp")).distinct()
      .join(broadcast(suspects.select("fp").distinct()),
        Seq("fp"), "left_semi")
    suspects.join(broadcast(dupFps), Seq("fp"), "left_anti")
      .select(idCol)
      .unionByName(certainNew)
  }

  // ----------------------------------------------------- n-gram Jaccard

  /** Distinct character n-gram shingles of a text column (codegen'd:
    * sequence + transform + substring, no UDF). Empty for texts shorter
    * than n. */
  def shingles(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(
          sequence(lit(1), length(text) - (n - 1)),
          i => substring(text, i, lit(n)))))

  /** Exact Jaccard similarity of two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact n-gram Jaccard pairs above `threshold`, via shingle inverted
    * index rather than an all-pairs nested loop: explode to (id, shingle),
    * self-join on shingle (shuffle hash join — parallel, no BNLJ), count
    * shared shingles per pair, then jac = |A∩B| / (|A|+|B|−|A∩B|).
    * Only pairs sharing ≥1 shingle are ever scored; with a similarity
    * threshold the non-sharing pairs are provably below it.
    *
    * Scale caveat: a shingle common to m docs contributes m² join rows —
    * at 100 TB apply a document-frequency cap on shingles (or use
    * [[minhashDedupPairs]], the sub-quadratic path). */
  def ngramJaccardPairs(
      df: DataFrame,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Option[Int] = None): DataFrame = {
    // 64-bit shingle hashes stand in for the shingle strings: counts
    // (and hence Jaccard) are identical absent a 64-bit collision
    // (~n²/2⁶⁵), and the shuffle carries 8-byte keys instead of strings.
    val shU = (c: Column) =>
      graft.functions.TextKernelFunctions.shinglesCol(c, n)
    val shAll = df.select(col(idCol).as("id"), explode(shU(col(textCol))).as("s"))
    // Scale valve: a shingle in m docs contributes m² join rows, so a
    // stop-word-like shingle dominates the pair generation. Capping
    // document frequency drops those shingles from BOTH sizes and
    // intersections (Jaccard over the capped universe — boilerplate
    // n-grams stop counting as similarity, which is usually the wanted
    // semantics for near-dup detection). Off by default for exactness.
    val sh = maxDocFreq match {
      case None => shAll
      case Some(m) =>
        // the over-frequent shingles are few — broadcast anti-join them
        val hot = shAll.groupBy(col("s")).agg(count(lit(1)).as("df_"))
          .where(col("df_") > m).select(col("s"))
        shAll.join(broadcast(hot), Seq("s"), "left_anti")
    }
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("id").as("id_a"), col("s"))
      .join(sh.select(col("id").as("id_b"), col("s")), "s")
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jac"))
      .where(col("jac") > threshold)
  }

  /** Directional n-gram CONTAINMENT pairs — the asymmetric twin of
    * [[ngramJaccardPairs]]: cont(A→B) = |A∩B| / |A|. Jaccard misses
    * wholesale inclusion (a short doc quoted inside a long one has
    * tiny |A∪B|-relative overlap but containment ≈ 1), and inclusion
    * is exactly what boilerplate-wrapping and quote-expansion dups
    * look like in a crawl. Same 8-byte shingle inverted-index join
    * (never an n² text comparison); keeps pairs where EITHER
    * direction clears `threshold`. Returns
    * (id_a, id_b, cont_a_in_b, cont_b_in_a).
    *
    * `maxDocFreq` is the same hot-shingle scale valve as
    * [[ngramJaccardPairs]]: a shingle shared by m documents expands to
    * m² join rows, so one boilerplate n-gram dominates the candidate
    * stage at corpus scale. With the valve on, shingles whose document
    * frequency exceeds the cap are dropped from BOTH the sizes and the
    * intersections — containment over the capped shingle universe
    * (boilerplate stops counting as inclusion, usually the wanted
    * semantics). Off by default for exactness. */
  def ngramContainmentPairs(
      df: DataFrame,
      n: Int,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Option[Int] = None): DataFrame = {
    val shU = (c: Column) =>
      graft.functions.TextKernelFunctions.shinglesCol(c, n)
    val shAll = df.select(col(idCol).as("id"), explode(shU(col(textCol))).as("s"))
    val sh = maxDocFreq match {
      case None => shAll
      case Some(m) =>
        // over-frequent shingles are few by construction — broadcast
        // anti-join them away before the self-join fans out
        val hot = shAll.groupBy(col("s")).agg(count(lit(1)).as("df_"))
          .where(col("df_") > m).select(col("s"))
        shAll.join(broadcast(hot), Seq("s"), "left_anti")
    }
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("id").as("id_a"), col("s"))
      .join(sh.select(col("id").as("id_b"), col("s")), "s")
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("sz_a")).as("cont_a_in_b"),
        (col("inter").cast("double") / col("sz_b")).as("cont_b_in_a"))
      .where(greatest(col("cont_a_in_b"), col("cont_b_in_a")) > threshold)
  }

  // ------------------------------------------------------- MinHash LSH

  /** Candidate pairs via LSH banding: the compiled
    * [[minhashBandHashes]] kernel emits one 64-bit hash per band; docs
    * sharing any (band, hash) become candidates. Self-join on the
    * banded table — at scale candidates come from Σ bucket², not n².
    * Verify with exact Jaccard downstream ([[minhashDedupPairs]]). */
  def minhashCandidates(
      df: DataFrame,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bandU = (c: Column) => graft.functions.TextKernelFunctions
      .minhashBandsCol(c, n, bands, rowsPerBand)
    val banded = df.select(
      col(idCol).as("id"),
      posexplode(bandU(col(textCol))).as(Seq("band", "bh")))
    val l = banded.select(col("band").as("band_l"), col("bh").as("bh_l"), col("id").as("id_a"))
    val r = banded.select(col("band").as("band_r"), col("bh").as("bh_r"), col("id").as("id_b"))
    l.join(r,
        l("band_l") === r("band_r") && l("bh_l") === r("bh_r") &&
          l("id_a") < r("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** MinHash LSH dedup: LSH candidates, then exact Jaccard over hashed
    * shingle sets (so precision is exact; recall is the LSH knob). */
  def minhashDedupPairs(
      df: DataFrame,
      n: Int,
      threshold: Double,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val cand = minhashCandidates(df, n, bands, rowsPerBand, idCol, textCol)
    val shU = (c: Column) =>
      graft.functions.TextKernelFunctions.shinglesCol(c, n)
    val sh = df.select(col(idCol).as("id"), shU(col(textCol)).as("sh"))
    cand
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardCol(col("sh_a"), col("sh_b")).as("jac"))
      .where(col("jac") > threshold)
  }

  // ------------------------------------- incremental ingest dedup index

  /** Persist a MinHash LSH band index of the standing corpus: one
    * `(band, bh, id)` row per banded hash, parquet at `path`. Build
    * ONCE; dedup every ingest batch against it with
    * [[probeMinhashIndex]] — the build/probe split of
    * [[minhashDedupPairs]] (same banding, same exact-Jaccard verify),
    * so a new batch is checked against 100 TB of corpus without
    * re-banding or re-shingling the corpus. */
  def writeMinhashIndex(
      df: DataFrame,
      path: String,
      n: Int,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val bandU = (c: Column) => graft.functions.TextKernelFunctions
      .minhashBandsCol(c, n, bands, rowsPerBand)
    graft.sources.Artifacts.publishVersion(df.sparkSession, path) {
      vdir =>
        df.select(col(idCol).as("id"),
            posexplode(bandU(col(textCol))).as(Seq("band", "bh")))
          .write.mode("overwrite").parquet(s"$vdir/bands")
    }
  }

  /** Fold an ingest batch into a persisted MinHash band index — the
    * graph/IVF APPEND lifecycle applied to the dedup tier: band ONLY
    * the new docs (banding is per-document, so append ≡ rebuild by
    * construction — the index is a plain (id, band, bh) row set) and
    * union their rows into the next published version
    * ([[graft.sources.Artifacts]] — probes may run concurrently; only
    * appends must be serialized). Cost ∝ batch; the corpus is never
    * re-banded. Caller must not re-append ids already in
    * the index (rows would double and inflate candidate generation —
    * harmless for correctness since probes dedup candidates, but
    * wasteful). */
  def appendToMinhashIndex(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      n: Int,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val vdir = graft.sources.Artifacts.latestDir(spark, path, "MinHash index")
    val existing = spark.read.parquet(s"$vdir/bands")
      .select("id", "band", "bh")
    val bandU = (c: Column) => graft.functions.TextKernelFunctions
      .minhashBandsCol(c, n, bands, rowsPerBand)
    val add = delta.select(col(idCol).as("id"),
      posexplode(bandU(col(textCol))).as(Seq("band", "bh")))
    graft.sources.Artifacts.publishVersion(spark, path) { vdir =>
      existing.union(add).write.mode("overwrite").parquet(s"$vdir/bands")
    }
  }

  /** Probe the persisted index with an ingest batch: near-dup
    * `(id_new, id_old, jac)` pairs between `delta` and the indexed
    * corpus, `jac > threshold` exact. The delta's banded hashes
    * (a batch is small vs the corpus) broadcast against the index —
    * 8-byte keys, no corpus shuffle; then ONLY the candidate corpus
    * docs are re-read for the exact-Jaccard verify (broadcast
    * semi-join prune before shingling). */
  def probeMinhashIndex(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      delta: DataFrame,
      n: Int,
      threshold: Double,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bandU = (c: Column) => graft.functions.TextKernelFunctions
      .minhashBandsCol(c, n, bands, rowsPerBand)
    val probes = delta.select(col(idCol).as("id_new"),
      posexplode(bandU(col(textCol))).as(Seq("band", "bh")))
    val vdir = graft.sources.Artifacts.latestDir(spark, path, "MinHash index")
    val cand = spark.read.parquet(s"$vdir/bands")
      .join(broadcast(probes), Seq("band", "bh"))
      .select(col("id").as("id_old"), col("id_new"))
      .distinct()
    val shU = (c: Column) =>
      graft.functions.TextKernelFunctions.shinglesCol(c, n)
    val candIds = cand.select(col("id_old")).distinct()
    val shOld = corpus
      .join(broadcast(candIds), corpus(idCol) === candIds("id_old"),
        "left_semi")
      .select(col(idCol).as("id_old"), shU(col(textCol)).as("sh_old"))
    val shNew = delta.select(col(idCol).as("id_new"),
      shU(col(textCol)).as("sh_new"))
    cand.join(shOld, "id_old")
      .join(broadcast(shNew), "id_new")
      .select(col("id_new"), col("id_old"),
        jaccardCol(col("sh_old"), col("sh_new")).as("jac"))
      .where(col("jac") > threshold)
  }

  // ----------------------------------------------------------- SimHash

  /** 64-bit SimHash over whitespace tokens: bit b of the fingerprint is
    * the sign of Σ_tokens (bit b of hash64(token) ? +1 : -1). Compiled
    * single-pass kernel ([[simhashFn]]) — the equivalent 64
    * aggregate-over-tokens Column expressions are interpreted per
    * element and ~20× slower. */
  def simhash(text: Column): Column = {
    graft.functions.TextKernelFunctions.simhashCol(text)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via **pigeonhole banding**: the 64 bits are
    * split into `maxHamming + 1` contiguous bands; two fingerprints
    * within Hamming distance `maxHamming` differ in at most `maxHamming`
    * bands, so at least one band matches exactly — candidate generation
    * has **recall 1 by construction** (the old single-prefix bucketing
    * missed any pair whose differing bits touched the prefix). Exact
    * Hamming filter verifies candidates, so precision is exact too.
    *
    * Scale valve: band width is `64/(maxHamming+1)` bits, so the radius
    * trades against bucket selectivity — radius 3 gives 16-bit bands
    * (the classic web-dedup configuration); radius 12 gives ~5-bit
    * bands, fine for corpus-local dedup, too coarse for web scale. The
    * shuffle carries only (band, band-value, id, fp) — 28 bytes/row. */
  def simhashPairs(
      df: DataFrame,
      maxHamming: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    simhashPairsFromFp(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("fp")),
      maxHamming)

  /** The pair-extraction half of [[simhashPairs]], over an already-
    * computed `(id, fp)` fingerprint table — split out so the banding
    * decision is SQL-replayable on its own: persist the fingerprints
    * (deterministic, engine-computed) and any engine with `bit_count` /
    * `xor` can verify the pair set exactly (`bit_count(xor(a.fp, b.fp))
    * <= maxHamming`), even though the per-char wrapping-multiply
    * fingerprint KERNEL itself has no SQL twin. */
  def simhashPairsFromFp(fpDf: DataFrame, maxHamming: Int): DataFrame = {
    // Pathological radii must fail loudly: maxHamming ≥ 32 gives sub-
    // 2-bit bands whose buckets hold large fractions of the corpus, and
    // at ≥ 64 some bands are zero-width (mask 0) — every fingerprint in
    // one bucket, i.e. a full cross join wearing a banding costume.
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32), got $maxHamming")
    val nBands = maxHamming + 1
    val bounds = (0 to nBands).map(b => b * 64 / nBands)
    // band id is folded into the bucket key's high bits so the join key
    // is ONE flat 64-bit column (a struct key forces a slower
    // non-codegen comparator through the exchange/join)
    val bandCols = (0 until nBands).map { b =>
      val lo = bounds(b)
      val w = bounds(b + 1) - lo
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(col("fp"), lo).bitwiseAND(lit(mask))
        .bitwiseOR(lit(b.toLong << 56))
    }
    val banded = fpDf.select(col("id"), col("fp"),
      explode(array(bandCols: _*)).as("bk"))
    val a = banded.select(col("bk").as("bk_a"), col("id").as("id_a"),
      col("fp").as("fp_a"))
    val b = banded.select(col("bk").as("bk_b"), col("id").as("id_b"),
      col("fp").as("fp_b"))
    // a pair matching in m bands appears m times from the candidate
    // join; the distance is a function of the pair, so carrying it
    // through the distinct (24 bytes/row) dedups for free — no
    // re-join against the fingerprint table needed
    a.join(b, col("bk_a") === col("bk_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("fp_a"), col("fp_b")).as("dist"))
      .where(col("dist") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------- embedding cosine near-dup

  /** Near-duplicate pairs by embedding cosine similarity — exact
    * all-pairs, for bounded sets and as the test oracle. The scale path
    * is [[Similarity.lshNearDupPairs]]. */
  def embeddingNearDupPairs(
      df: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    Similarity.bruteForcePairs(df, threshold, idCol, embCol)

  /** SemDeDup-style cluster-then-dedup (Abbas et al. 2023, arXiv
    * 2303.09540): assign every embedding to its nearest coarse
    * centroid (the native-loop argmin, `assignCol`), then mark as
    * duplicates the rows with a LOWER-id same-cluster neighbor above
    * the cosine threshold — the exact tier's keep-lowest-id rule at
    * semantic granularity. The cluster bound is the scale device:
    * candidate pairs are Σ cluster² instead of n² (size k so clusters
    * stay capped — at corpus scale the coarse fit comes from the
    * engine's own KMeans, the q40 IVF precedent); the within-cluster
    * join is an ordinary shuffled equi-join on the cluster id, never
    * a BNLJ. Assignment is the q31 argmin and cosine the
    * VecDot/norm double tree, so the whole decision is SQL-replayable.
    *
    * Returns (cluster, id, keep 0/1) ordered by (cluster, id). */
  def semDedup(
      df: DataFrame,
      centroids: Array[Array[Float]],
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val assigned = df.select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("cluster", assignCol(col("emb"), centroids))
      .withColumn("nrm", normCol(col("emb")))
    val a = assigned.select(col("cluster"), col("id").as("id_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    val dropped = a.join(b.hint("shuffle_hash"), "cluster")
      .where(col("id_a") < col("id_b"))
      .where(when(col("nrm_a") === 0.0 || col("nrm_b") === 0.0, lit(0.0))
        .otherwise(dotCol(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b"))) > threshold)
      .select(col("id_b").as("id")).distinct()
    assigned
      .join(dropped.withColumn("dup", lit(1)), Seq("id"), "left")
      .select(col("cluster"), col("id"),
        when(col("dup").isNull, lit(1)).otherwise(lit(0)).as("keep"))
      .orderBy("cluster", "id")
  }
}
