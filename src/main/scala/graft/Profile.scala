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
      case Some("aa-phases") => aaPhases(
        args.lift(1).getOrElse("/root/testdata/sf0.1"))
      case Some("cm-phases") => cmPhases(
        args.lift(1).getOrElse("/root/testdata/sf0.1"))
      case Some("bp-phases") => bpPhases(
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
    // A/B hook for the wedge-family algorithm selector (floors runs
    // set GRAFT_TRIANGLE_ALGO=csr against the default wedge form)
    sys.env.get("GRAFT_TRIANGLE_ALGO").foreach(a =>
      spark.conf.set("spark.graft.graph.triangleAlgo", a))
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

  /** Phase attribution for q156 adamic-adar on the copurchase graph:
    * replicates adamicAdarImpl's stages (big-graph path) with
    * per-stage forcing so the expensive exchange is visible. */
  def aaPhases(dir: String): Unit = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.storage.StorageLevel
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    val maxDegree = 100
    (1 to 2).foreach { rep =>
      println(s"[prof] === rep $rep")
      val lp = sources.Tables(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct().persist(StorageLevel.MEMORY_AND_DISK)
      val pp = lp.select(col("ok"), col("pk").as("p1"))
        .join(lp.select(col("ok"), col("pk").as("p2")), "ok")
        .where(col("p1") < col("p2"))
        .select(col("p1").as("src"), col("p2").as("dst"))
        .distinct().persist(StorageLevel.MEMORY_AND_DISK)
      val e = t("build:copurchase sym persist+count") {
        val e0 = pp.union(pp.select(col("dst").as("src"),
          col("src").as("dst")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        println(s"[prof]   E=${e0.count()}")
        e0
      }
      val deg = t("deg agg persist+count") {
        val d = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        println(s"[prof]   N=${d.count()}")
        d
      }
      val nb = t("nb build persist+count") {
        val n0 = e
          .join(deg.select(col("node").as("src"), col("deg")), "src")
          .where(col("deg") >= 2 && col("deg") <= maxDegree)
          .select(col("src").as("b"), col("dst").as("n"),
            (round(lit(1.0) / log(col("deg").cast("double")), 12)
              .cast(DecimalType(14, 12))
              * lit(java.math.BigDecimal.valueOf(1000000000000L)))
              .cast("long").as("units"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        println(s"[prof]   nb=${n0.count()}")
        n0
      }
      t("wedge volume probe") {
        val w = deg.where(col("deg") >= 2 && col("deg") <= maxDegree)
          .agg(coalesce(sum(col("deg") * (col("deg") - 1) / 2), lit(0L))
            .cast("long")).head.getLong(0)
        println(s"[prof]   wedges=$w")
      }
      val nbRight = nb.select(col("b"), col("n").as("w"))
      val scored = nb.select(col("b"), col("n").as("u"), col("units"))
        .join(nbRight.hint("shuffle_hash"), "b")
        .where(col("u") < col("w"))
        .groupBy("u", "w")
        .agg(sum(col("units")).as("aa_units"), count(lit(1)).as("common"))
      t("scored agg (join+groupBy) noop") {
        scored.write.format("noop").mode("overwrite").save()
      }
      val out = t("anti-join + checkpoint") {
        scored.join(e.select(col("src").as("u"), col("dst").as("w")),
            Seq("u", "w"), "left_anti")
          .select(col("u").as("src"), col("w").as("dst"), col("common"),
            (col("aa_units").cast("double") / lit(1.0e12)).as("aa"))
          .localCheckpoint(eager = true)
      }
      t("top-20") {
        out.orderBy(desc("aa"), col("src"), col("dst")).limit(20).collect()
      }
      t("candidate count") {
        println(s"[prof]   candidates=${out.count()}")
      }
      // ---- variant B: broadcast close side, same agg
      val scoredB = nb.select(col("b"), col("n").as("u"), col("units"))
        .join(broadcast(nbRight), "b")
        .where(col("u") < col("w"))
        .groupBy("u", "w")
        .agg(sum(col("units")).as("aa_units"), count(lit(1)).as("common"))
      t("B: scored agg broadcast noop") {
        scoredB.write.format("noop").mode("overwrite").save()
      }
      // ---- variant C: packed single-long pair key (ids < 2^31)
      val scoredC = nb.select(col("b"), col("n").as("u"), col("units"))
        .join(broadcast(nbRight), "b")
        .where(col("u") < col("w"))
        .select((col("u") * lit(4294967296L) + col("w")).as("uw"),
          col("units"))
        .groupBy("uw")
        .agg(sum(col("units")).as("aa_units"), count(lit(1)).as("common"))
      t("C: scored agg packed-key noop") {
        scoredC.write.format("noop").mode("overwrite").save()
      }
      // ---- variant E: grouped-adjacency + graft_pair_longs kernel
      val scoredE = nb
        .groupBy(col("b"), col("units"))
        .agg(collect_list(col("n").cast("long")).as("ns"))
        .select(col("units"),
          explode(org.apache.spark.sql.graftshim.column(
            graft.functions.GraftPairLongs(
              org.apache.spark.sql.graftshim.expression(col("ns")))))
            .as("uw"))
        .groupBy("uw")
        .agg(sum(col("units")).as("aa_units"), count(lit(1)).as("common"))
      t("E: scored agg pair-kernel noop") {
        scoredE.write.format("noop").mode("overwrite").save()
      }
      // ---- variant D: packed key + packed anti-join + direct top-20
      val outD = scoredC
        .join(e.select((col("src") * lit(4294967296L) + col("dst"))
          .as("uw")), Seq("uw"), "left_anti")
        .select((col("uw") / lit(4294967296L)).cast("long").as("src"),
          pmod(col("uw"), lit(4294967296L)).cast("long").as("dst"),
          col("common"),
          (col("aa_units").cast("double") / lit(1.0e12)).as("aa"))
      t("D: packed anti + direct top-20") {
        outD.orderBy(desc("aa"), col("src"), col("dst")).limit(20)
          .collect()
      }
      Seq(nb, deg, e, pp, lp).foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }

  /** A/B for q160's projection aggregate: packed pair-kernel vs the
    * two-sided self-join, over the same pruned incidence — wall-clock
    * AND total shuffle bytes written (task-metrics listener), the
    * at-scale cost the kernel form was adopted for. */
  def bpPhases(dir: String): Unit = {
    import org.apache.spark.storage.StorageLevel
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null)
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    def t[A](name: String)(f: => A): A = {
      Thread.sleep(300) // drain listener events from the previous phase
      val b0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val r = f
      Thread.sleep(300)
      println(f"[prof] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs " +
        f"shuffleMB=${(shuffleBytes.get() - b0) / 1048576.0}%.1f")
      r
    }
    (1 to 2).foreach { rep =>
      println(s"[prof] === rep $rep")
      val o = sources.Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = sources.Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val lp = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("l"), col("l_partkey").as("r"))
        .distinct().persist(StorageLevel.MEMORY_AND_DISK)
      val keep = lp.groupBy("r").agg(count(lit(1)).as("dc"))
        .where(col("dc") <= 40).select("r")
      val pruned = t("pruned build+count") {
        val p = lp.join(keep, "r").persist(StorageLevel.MEMORY_AND_DISK)
        println(s"[prof]   pruned=${p.count()}")
        p
      }
      val joinForm = pruned.select(col("r"), col("l").as("src"))
        .join(pruned.select(col("r"), col("l").as("dst"))
          .hint("shuffle_hash"), "r")
        .where(col("src") < col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      t("A: self-join agg noop") {
        joinForm.write.format("noop").mode("overwrite").save()
      }
      val kernelForm = pruned.groupBy(col("r"))
        .agg(collect_list(col("l").cast("long")).as("ls"))
        .select(explode(org.apache.spark.sql.graftshim.column(
          graft.functions.GraftPairLongs(
            org.apache.spark.sql.graftshim.expression(col("ls")))))
          .as("uw"))
        .groupBy("uw").agg(count(lit(1)).as("w"))
      t("B: pair-kernel agg noop") {
        kernelForm.write.format("noop").mode("overwrite").save()
      }
      pruned.unpersist(blocking = false)
      lp.unpersist(blocking = false)
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
