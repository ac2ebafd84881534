package graft

import org.apache.spark.sql.SparkSession

/** Command-line harness around the catalogue (not part of the library
  * surface): per-line timings, plan dumps and the entry smoke run. */
object Profile {
  private val Usage =
    """usage: graft.Profile <mode> ...
      |  entry                                 smoke-run SparkEntry.entry
      |  queries <sfDir> <reps> [query ...]    time catalogue lines
      |  plans <sfDir> <outDir> <tag> [query ...]
      |                                        dump formatted plans""".stripMargin

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("entry") => entrySmoke()
      case Some("queries") if args.length >= 3 => profileQueries(args.drop(1))
      case Some("plans") if args.length >= 4 => dumpPlans(args.drop(1))
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
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
    spark
  }

  private def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The named catalogue lines, or every line when none is named. */
  private def lines(names: Array[String]): Seq[String] =
    if (names.nonEmpty) names.toSeq else SparkEntry.queries.keys.toSeq.sorted

  /** Dump `.explain("formatted")` for selected queries to files
    * <outDir>/<query>_<tag>.txt. NOTE: constructing an iterative query
    * runs its loop eagerly (checkpoints), so the dumped plan is the
    * final frame; the in-loop shape lives in code. */
  def dumpPlans(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val spark = session(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    lines(args.drop(3)).foreach { n =>
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

  /** Time selected SparkEntry queries N times each at a given sf dir. */
  def profileQueries(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val spark = session(cpus)
    lines(args.drop(2)).foreach { n =>
      val times = (1 to reps).map { _ =>
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
