package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiling harness (not part of the library surface). */
object Profile {
  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("entry") => entrySmoke()
      case Some("queries") => profileQueries(args.drop(1))
      case Some("plans") => dumpPlans(args.drop(1))
      case Some("nb-phases") => nbPhases(
        args.lift(1).getOrElse("/root/testdata/sf0.1"))
      case Some("cm-phases") => cmPhases(
        args.lift(1).getOrElse("/root/testdata/sf0.1"))
      case Some("ga-phases") => gaPhases(
        args.lift(1).getOrElse("/root/testdata/sf0.1"))
      case _ => microbench(args.headOption.getOrElse("/root/testdata/sf0.01"))
    }
  }

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A/B hook: GRAFT_AQE_COALESCE=1 sets the guide-§9 aggressive
    // AQE coalescing posture (size-targeted, not parallelism-first)
    if (sys.env.contains("GRAFT_AQE_COALESCE")) {
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    }
    spark
  }

  /** Dump `.explain("formatted")` for selected queries to files.
    * usage: runMain graft.Profile plans <sfDir> <outDir> <tag> q119 ...
    * Writes <outDir>/<query>_<tag>.txt. NOTE: constructing an
    * iterative query runs its loop eagerly (checkpoints), so the
    * dumped plan is the final frame; the in-loop shape lives in code. */
  def dumpPlans(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plans] wrote $outDir/${n}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }

  /** Time selected SparkEntry queries N times each at a given sf dir.
    * usage: runMain graft.Profile queries <sfDir> <reps> q01_agg_sum ... */
  def profileQueries(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // GRAFT_PROF_CLEARCACHE=1 replicates Bench's between-pass cleanup
    // (clearCache + gc) before every rep — for attributing a line's
    // warm-up to catalog caches vs JIT/page-cache effects
    val clear = sys.env.contains("GRAFT_PROF_CLEARCACHE")
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        if (clear) { spark.catalog.clearCache(); System.gc() }
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[prof] $n: ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    SparkEntry.artifactBuildCosts.toSeq.sortBy(_._1).foreach {
      case (k, v) => println(f"[prof] artifact $k: $v%.1fs")
    }
    spark.stop()
  }

  /** Where q186 (corpus NB fit + self-classify) spends its time. */
  def nbPhases(dir: String): Unit = {
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs ($r)")
    }
    val docs = sources.Tables(spark, dir, "documents").cache()
    time("docs count")(docs.count())
    import operators.TextAnalysis
    (1 to 2).foreach { rep =>
      time(s"gram explode count [$rep]")(docs.select(
          explode(TextAnalysis.charNgrams(col("text"), 2)).as("g"))
        .count())
      time(s"fit agg [$rep]")(TextAnalysis.charNgramLangModel(
        docs, "lang", "text", n = 2).count())
      time(s"detect [$rep]")(TextAnalysis.charNgramDetect(
        TextAnalysis.charNgramLangModel(docs, "lang", "text", n = 2),
        docs, "doc_id", "text", n = 2).count())
      time(s"full q186 [$rep]")(
        SparkEntry.queries("q186_lang_nb_corpus")(spark, dir)
          .write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }

  /** Phase attribution for the q157/q178 CountMin lines. */
  def cmPhases(dir: String): Unit = {
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    (1 to 2).foreach { rep =>
      println(s"[prof] === rep $rep")
      val li = sources.Tables(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_orderkey"))
      t("sketch build noop") {
        operators.Frequency.countMinSketch(li, "l_partkey", 4, 2048)
          .write.format("noop").mode("overwrite").save()
      }
      t("truth top-20") {
        li.groupBy("l_partkey")
          .agg(count(lit(1)).as("true_cnt"))
          .orderBy(desc("true_cnt"), col("l_partkey")).limit(20)
          .collect()
      }
      t("micro: scan+count") {
        li.write.format("noop").mode("overwrite").save()
      }
      t("micro: 1x md5 noop") {
        li.select(md5(concat(lit("0-"), col("l_partkey").cast("string")))
          .as("h")).write.format("noop").mode("overwrite").save()
      }
      t("micro: 4x md5 noop") {
        li.select((0 until 4).map(i =>
            md5(concat(lit(s"$i-"), col("l_partkey").cast("string")))
              .as(s"h$i")): _*)
          .write.format("noop").mode("overwrite").save()
      }
      t("micro: 4x full cmIdx noop") {
        li.select((0 until 4).map(i =>
            pmod(conv(substring(md5(concat(lit(s"$i-"),
              col("l_partkey").cast("string"))), 1, 8), 16, 10)
              .cast("long"), lit(2048L)).as(s"h$i")): _*)
          .write.format("noop").mode("overwrite").save()
      }
      val base = s"/tmp/graft_cmprof_$rep"
      t("writeCountMin (90%)") {
        operators.Frequency.writeCountMin(
          li.where(col("l_orderkey") % 10 =!= 0), "l_partkey",
          4, 2048, base)
      }
      t("appendToCountMin (10%)") {
        operators.Frequency.appendToCountMin(spark, base,
          li.where(col("l_orderkey") % 10 === 0), "l_partkey")
      }
      t("probe 20 keys") {
        val keys = li.groupBy("l_partkey")
          .agg(count(lit(1)).as("true_cnt"))
          .orderBy(desc("true_cnt"), col("l_partkey")).limit(20)
          .select("l_partkey")
        operators.Frequency.countMinEstimatePersisted(
          spark, base, keys, "l_partkey").collect()
      }
    }
    spark.stop()
  }

  /** Phase attribution for q130's graph-append lifecycle: base write
    * (buildGraphTable + publish from the 90% feed), merge-append of
    * the 10% batch, then the 10-round PageRank over the appended
    * artifact. Feeds are pre-materialized parquet (as in the bench,
    * where they come from the shared graph_tables artifact), so the
    * timed phases are exactly q130's timed content. */
  def gaPhases(dir: String): Unit = {
    import org.apache.spark.storage.StorageLevel
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    val o = sources.Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = sources.Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairsAll = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst"))
    val feedBase = s"/tmp/graft_gaprof_feeds"
    t("feeds: write e90/e10 parquet (untimed in bench)") {
      pairsAll.where(col("ok") % 10 =!= 0).select("src", "dst").distinct()
        .write.mode("overwrite").parquet(s"$feedBase/e90")
      pairsAll.where(col("ok") % 10 === 0).select("src", "dst").distinct()
        .write.mode("overwrite").parquet(s"$feedBase/e10")
    }
    (1 to 3).foreach { rep =>
      println(s"[prof] === rep $rep")
      val base = s"/tmp/graft_gaprof_$rep"
      val e90 = spark.read.parquet(s"$feedBase/e90")
      val e10 = spark.read.parquet(s"$feedBase/e10")
      t("writeGraphTable(e90)") {
        operators.Graph.writeGraphTable(e90, "src", "dst", base,
          assumeDistinct = true)
      }
      t("appendToGraphTable(e10)") {
        operators.Graph.appendToGraphTable(spark, base, e10, "src", "dst")
      }
      t("readGraphTable + pageRank(10) top-20") {
        operators.Graph.readGraphTable(spark, base)
          .pageRank(iters = 10, danglingCorrection = true).limit(20)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }

  def microbench(dir: String): Unit = {
    val spark = session(8)
    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs ($r)")
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
    time("docs count")(docs.count())
    time("docs count again")(docs.count())
    time("regexp_replace")(
      docs.select(length(regexp_replace(col("text"), "[^0-9]", "")).as("h"))
        .agg(sum("h")).head())
    time("shingles")(
      docs.select(graft.operators.Dedup.shingles(col("text"), 8).as("sh"))
        .agg(sum(size(col("sh")))).head())
    spark.stop()
  }

  /** Smoke-run of SparkEntry.entry, the driver's t1 check (rows > 0). */
  def entrySmoke(): Unit = {
    val spark = session(8)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[entry] rows=${rows.length}")
    rows.take(3).foreach(r => println(s"[entry] $r"))
    spark.stop()
  }
}
