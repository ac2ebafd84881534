package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape assertions: the physical properties the engine relies on
  * at scale — pushdown, pruning, broadcast, top-k, partial aggregation,
  * codegen'd custom expressions — hold in the actual Catalyst output,
  * not just in intent. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02: filter is pushed to the parquet scan and columns pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    // pruned read schema: only the 5 referenced columns, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      readSchema)
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan("q03_join_dims")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q04: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q04_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01: aggregation splits into partial + final HashAggregate") {
    val p = plan("q01_agg_sum")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange"), p)
  }

  test("q16: VecDot participates in whole-stage codegen") {
    val p = plan("q16_knn_brute")
    assert(p.contains("vec_dot"), p)
    // formatted mode marks codegen'd operators with a codegen id; the
    // projection computing vec_dot must be inside a codegen stage
    assert(p.linesIterator.exists(l =>
      l.contains("Project [codegen id")), p)
  }

  test("exact dedup shuffles 8-byte fingerprints, not document text") {
    val p = graft.operators.Dedup
      .exactKeepers(graft.sources.Tables(spark, dir, "documents"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the exchange key is the xxhash64 fingerprint; text is not carried
    val exchangeIdx = p.indexOf("Exchange")
    assert(exchangeIdx > 0, p)
    assert(p.contains("xxhash64"), p)
  }

  test("q34: SimHash band candidates join as a hash join on a flat key, not BNLJ") {
    val p = plan("q34_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("q42: banded-LSH candidate join avoids the all-pairs nested loop") {
    val p = plan("q42_embed_neardup_lsh")
    // the candidate generation must be an equi-join on (band, bucket);
    // only the final verify re-attach may broadcast the small sides
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q31: small-k assignment is the codegen'd native argmin, no UDF") {
    val p = plan("q31_kmeans_label")
    assert(p.contains("vec_argmin_sqdist"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  // formatted explain prints each node in the tree AND the details
  // section; `(n) NodeName` appears exactly once per physical node
  private def nodes(p: String, name: String): Int =
    s"""\\(\\d+\\) $name""".r.findAllIn(p).size

  test("q50: cube computes all grouping sets from ONE scan via Expand") {
    val p = plan("q50_cube")
    assert(p.contains("Expand"), p)
    assert(nodes(p, "Scan parquet") == 2, p) // customer + nation, once each
  }

  test("q55: pivot is one scan + one aggregation, not a scan per value") {
    val p = plan("q55_pivot")
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("pivotfirst"), p)
  }

  test("q56: running window shuffles once, on the partition key only") {
    val p = plan("q56_window_running")
    assert(p.contains("Window"), p)
    // one exchange to co-locate each customer's history; the final
    // orderBy adds a range repartition for output — nothing else
    assert(nodes(p, "Exchange") <= 2, p)
  }

  test("q82: token chunking is entirely map-side — zero exchanges") {
    val p = graft.operators.Curation
      .tokenChunks(graft.sources.Tables(spark, dir, "documents"),
        "doc_id", "text", 64, 48)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(nodes(p, "Exchange") == 0, p)
    assert(p.contains("Generate"), p) // the posexplode fan-out, narrow
  }

  test("q83: packing shuffles exactly once (bucket, id, n_tokens)") {
    val p = graft.operators.Curation
      .packSequences(graft.sources.Tables(spark, dir, "documents"),
        "doc_id", "text", 256L, 8)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(nodes(p, "Exchange") == 1, p)
  }

  test("q60: global sort is a range-partitioned exchange, not one task") {
    val p = plan("q60_global_sort")
    // sampled range split points → every task sorts one slice of the
    // total order; a single-partition sort would serialize the table
    assert(p.contains("rangepartitioning"), p)
    assert(nodes(p, "Sort") >= 1, p)
    // the oracle hash is row-order-insensitive, so assert the actual
    // total order here: collected rows are (price DESC, key ASC)
    val rows = SparkEntry.queries("q60_global_sort")(spark, dir).collect()
      .map(r => (r.getDouble(2), r.getLong(0)))
    assert(rows.length > 1000)
    rows.sliding(2).foreach { case Array((p1, k1), (p2, k2)) =>
      assert(p1 > p2 || (p1 == p2 && k1 < k2), s"($p1,$k1) !>= ($p2,$k2)")
    }
  }

  test("q61: latest-per-key is one partial/final aggregate, no window sort") {
    val p = plan("q61_latest_event")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
      .findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("q65: partition-key filter prunes directories, not rows") {
    val p = plan("q65_partitioned_write")
    // the filter must land in PartitionFilters (directory pruning at
    // listing time), NOT PushedFilters/post-scan Filter (row pruning
    // after reading everything)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("event_type"), pf)
  }

  test("q57: the corpus is tokenized exactly once (no self-join re-scan)") {
    val p = plan("q57_tfidf_top_terms")
    // df comes from a window sum over the (lang, term) rollup, not a
    // second aggregation branch — one scan, one explode
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(nodes(p, "Generate") == 1, p)
  }

  test("q67: range join is a binned equi-join, never a nested loop") {
    val p = plan("q67_range_join")
    // the raw theta predicate would plan as BNLJ (or Cartesian for two
    // big sides); binning must reduce it to a hash-joinable equi key
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q70: interval-overlap join is a binned equi-join, never a nested loop") {
    val p = plan("q70_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q72: quantile bucketing assigns via broadcast literals, not a global window") {
    val p = plan("q72_quantile_bucket")
    assert(!p.contains("Window"), p)
  }

  test("q68: per-key top-k is a partial/final aggregate, not a window sort") {
    val p = plan("q68_knn_batch")
    // k-capped typed aggregator → ObjectHashAggregate partial upstream
    // of the exchange and final below it; the window-rank form would
    // show a Window + full per-key sort of the scored cross product
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("runtime bloom filter reduces the fact scan under a selective dim join") {
    // The 100 TB semi-join-reduction lever: a shuffled fact⋈dim join
    // where the dim side carries a selective predicate gets a bloom
    // filter built on the dim keys and injected into the fact side, so
    // most fact rows die at the scan instead of crossing the exchange.
    // Spark gates injection on production-sized thresholds (fact scan
    // > 10 GB), so the test pins them down to prove the plan shape the
    // cluster would get; defaults are restored either way.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "0")        // testdata ≪ the 10GB default
      spark.conf.set(keys(2), "-1")       // force the shuffled join shape
      val li = graft.sources.Tables(spark, dir, "lineitem")
      val pt = graft.sources.Tables(spark, dir, "part")
        .where(org.apache.spark.sql.functions.col("p_size") === 1)
      val j = li.join(pt, li("l_partkey") === pt("p_partkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"), opt)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q119: triangle wedge closure is hash joins, never a nested loop") {
    val p = plan("q119_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("Window"), p)
  }

  test("q126: the roundtrip filter and pruning reach the ORC scan") {
    val p = plan("q126_orc_roundtrip")
    assert(p.contains("orc") || p.contains("Orc"), p)
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_quantity"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") &&
      !readSchema.contains("l_partkey"), readSchema)
  }

  test("spanDedup: first-occurrence is an aggregate on fingerprints, no window") {
    val p = graft.operators.Curation
      .spanDedup(graft.sources.Tables(spark, dir, "documents"),
        "doc_id", "text", 8)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // a corpus-wide Window over span partitions would be the skew trap;
    // the min(struct) groupBy folds map-side instead, keyed on the
    // 8-byte xxhash64 fingerprint
    assert(!p.contains("Window"), p)
    assert(p.contains("xxhash64"), p)
    assert(p.contains("partial_min") || "HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q138: the hashing-trick featurizer is a pure map — no exchange, no join") {
    val p = plan("q138_feature_hash")
    // everything before the final presentation sort is map-side: the
    // dim×|cols| CASE terms fold in whole-stage codegen over one scan
    assert(!p.contains("Join"), p)
    // only the presentation sort's range exchange (formatted mode
    // lists each operator once in the tree and once in the details)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")) <= 1, p)
    // the bucket/sign hashes are plain projected expressions
    assert(p.contains("md5"), p)
  }

  test("q139: applying the fitted scaler is literal expressions, not a join") {
    val p = plan("q139_fitted_scaler")
    // the stats are baked in driver-side — the row scan never joins
    // the artifact (a 2-column model joined per-row would show here)
    assert(!p.contains("Join"), p)
  }

  test("q143: the expectation suite is ONE aggregation pass over one scan") {
    val p = plan("q143_expectations")
    assert(!p.contains("Join"), p)
    // one lineitem scan feeds every rule (the multi-distinct Expand
    // rides the same scan)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) === 1,
      p)
  }

  test("q157: CountMin sketch probe broadcasts the counter table") {
    val p = plan("q157_countmin")
    // the d×w counter side broadcasts; the key side never shuffles
    // through a SortMergeJoin
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q167: stratified sample plans the bounded TopK aggregate, " +
    "never a window sort") {
    val p = plan("q167_stratified_sample")
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q170: rank normalization windows on the GROUP key (no " +
    "single-partition window)") {
    val p = plan("q170_rank_normalize")
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(event_type"), p)
  }

  test("q166: the ≤7-row dow profile broadcasts back onto dailies") {
    val p = plan("q166_seasonal_dow")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q163: CDC apply aggregates the changelog BEFORE its only join") {
    val p = plan("q163_cdc_apply")
    // max_by collapse runs partial+final upstream of the outer join
    // (SortAggregate: struct-valued max_by has no hash-agg form)
    assert("(Sort|Hash)Aggregate".r.findAllIn(p).size >= 2, p)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size >= 1, p)
  }

  test("q179: NB scoring broadcasts model/totals/vocab; argmax windows " +
    "on the doc key; no ScalaUDF anywhere") {
    val p = plan("q179_lang_nb")
    // model, per-lang totals, and V are vocabulary-sized broadcasts —
    // the gram stream never shuffles through a SortMergeJoin
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the argmax window is keyed by doc — never a single partition
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  // q181/q183 run on an inline fixture that Catalyst constant-folds to
  // a LocalTableScan, so plan-shape is asserted on the SAME operators
  // over the parquet documents table (the 100-TB shape).
  test("scriptProfile over parquet is pure map-side regexp counts — " +
    "zero exchanges, no UDF") {
    val docs = sources.Tables(spark, dir, "documents")
    val p = operators.TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("regexp_replace"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("cjkAwareTokens over parquet stays inside codegen (regexp pad " +
    "+ split, no UDF, map-side before the aggregate)") {
    val docs = sources.Tables(spark, dir, "documents")
    val df = docs.select(org.apache.spark.sql.functions.explode(
        operators.TextAnalysis.cjkAwareTokens(
          org.apache.spark.sql.functions.col("text"))).as("tok"))
      .groupBy("tok").count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("regexp_replace"), p)
    // exactly the one aggregate exchange — tokenization adds none
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("cjkBigramTokens over parquet stays inside codegen (pad + split " +
    "+ per-token slide are all builtins — no UDF, no extra exchange)") {
    val docs = sources.Tables(spark, dir, "documents")
    val df = docs.select(org.apache.spark.sql.functions.explode(
        operators.TextAnalysis.cjkBigramTokens(
          org.apache.spark.sql.functions.col("text"))).as("tok"))
      .groupBy("tok").count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("regexp_replace"), p)
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("encodingQuality over parquet is pure map-side regexp counts — " +
    "zero exchanges, no UDF (the scriptProfile posture)") {
    val docs = sources.Tables(spark, dir, "documents")
    val p = operators.TextAnalysis.encodingQuality(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("folded BM25 keeps the unfolded plan shape: translate in the " +
    "scan-side project, no UDF, top-k as TakeOrderedAndProject") {
    val docs = sources.Tables(spark, dir, "documents")
    val df = operators.Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("The", "Spark", "DUP"), fold = true)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("translate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("corpus NB fit/score (q186 shape) broadcasts the model and " +
    "totals — no sort-merge join of the gram stream, no UDF") {
    val docs = sources.Tables(spark, dir, "documents")
    val model = operators.TextAnalysis.charNgramLangModel(
      docs, "lang", "text", n = 2)
    val scored = operators.TextAnalysis.charNgramDetect(
      model, docs, "doc_id", "text", n = 2)
    val p = scored.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("KMeans.transform at k=64 stays a codegen'd argmin — " +
    "no ScalaUDF fallback, and labels match the compiled running min") {
    import graft.functions.VectorFunctions.argminCentroid
    import org.apache.spark.sql.functions.col
    // over parquet (an inline fixture constant-folds the whole argmin
    // into a LocalTableScan — the q181/q183 device): centroids sampled
    // from the corpus itself, so exact ties (a point that IS a
    // centroid) exercise the earliest-wins running min. k = 129 also
    // runs (129 × dim 64 = 8256 codebook cells): the plan carries the
    // codebook as one object, so a large k is the same native loop.
    val emb = sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("features"))
    for (k <- Seq(64, 129)) {
      val cents = emb.orderBy("vec_id").limit(k)
        .select("features").collect().map(_.getSeq[Float](0).toArray)
      val labeled = graft.kmeans.KMeansModel(cents, 0, converged = true)
        .transform(emb)
      val p = labeled.queryExecution.executedPlan.toString
      // "UDF(" is how executedPlan renders a ScalaUDF (the class-name
      // sentinel alone never matches and would pin nothing)
      assert(!p.contains("UDF("), s"k=$k\n$p")
      assert(!p.contains("ScalaUDF"), s"k=$k\n$p")
      assert(p.contains("vec_argmin_sqdist"), s"k=$k\n$p")
      val got = labeled.select("vec_id", "features", "cluster").collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        val v = r.getSeq[Float](1).toArray
        assert(r.getInt(2) === argminCentroid(v, cents),
          s"k=$k vec_id=${r.getLong(0)}")
      }
    }
  }

  test("probeBloomGate (q140) probes with the native might_contain " +
    "expression — no ScalaUDF anywhere in the plan") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("planspec-bloom").toString
    val docs = sources.Tables(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") < 100)
    val batch = docs.where(col("doc_id") >= 100 && col("doc_id") < 120)
      .select("doc_id", "text")
    operators.Dedup.writeBloomGate(corpus, s"$base/bloom", fpp = 0.01)
    val probe = operators.Dedup.probeBloomGate(
      spark, s"$base/bloom", corpus, batch)
    val p = probe.queryExecution.executedPlan.toString
    assert(!p.contains("UDF("), p) // ScalaUDF renders as "UDF(...)"
    assert(p.contains("might_contain"), p)
    // and the gate is still exact: result ≡ the anti-join
    val got = probe.collect().map(_.getLong(0)).sorted.toSeq
    val want = batch.join(corpus.select(col("text")),
        Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want)
  }

  test("repetitionStats (q80) runs the kernel as a codegen'd " +
    "expression — no ScalaUDF, no exchange before the scan project") {
    val docs = sources.Tables(spark, dir, "documents")
    val p = operators.Curation.repetitionStats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("graft_repetition"), p)
    assert(!p.contains("Exchange"), p) // pure per-row kernel
  }

  test("contamination (q81) hashes grams with the codegen'd " +
    "expression and broadcasts the test side — no ScalaUDF") {
    val docs = sources.Tables(spark, dir, "documents")
    val df = operators.Curation.contamination(docs, "doc_id", "text",
      isTest = org.apache.spark.sql.functions.col("doc_id") % 10 === 0,
      n = 3, minShared = 2)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("graft_word_grams"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("editDistanceSelfJoin (q91) blocks on codegen'd deletion " +
    "hashes — no ScalaUDF, candidates via hash join not BNLJ") {
    val parts = sources.Tables(spark, dir, "part")
      .select(org.apache.spark.sql.functions.col("p_partkey"),
        org.apache.spark.sql.functions.col("p_name"))
    val df = operators.Joins.editDistanceSelfJoin(
      parts, "p_partkey", "p_name", maxDist = 1)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("graft_deletion_hashes"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }
}
