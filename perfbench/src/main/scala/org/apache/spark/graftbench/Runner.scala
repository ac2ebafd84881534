package org.apache.spark.graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.{CachePool, SparkEntry}
import graft.kmeans.{Dbi, KMeans, KMeansModel, KMeansParams}

/** One benchmark run inside one JVM: start the session, set up, run
  * whole closed-loop passes (one client, the next operation starts when
  * the previous one returns) until `seconds` have elapsed, and write
  * `result.json` under `out` for `perfbench/run.py` to check and roll up.
  *
  * Arguments are `key=value` pairs: `workload`, `out`, `seconds`,
  * `trace` (0/1), `cpus`, and per workload `lines` (catalogue lines as
  * `name@tablesDir`, comma-separated, in pass order) or `blobs` + `k` +
  * `maxloop` + `init` (K-Means pipeline; `init` holds one initial
  * centroid per line, comma-separated floats).
  *
  * With `trace=1` passes alternate untraced / traced, so one run yields
  * both the per-layer records and the tracing overhead. */
object Runner {
  private final case class Op(id: String, pass: Int, name: String,
      startUs: Long, endUs: Long, ok: Boolean, traced: Boolean, err: String)

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val out = a("out")
    val cpus = a("cpus")
    val traceOn = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyUs = Clock.us()
    val trace = new Trace(spark)
    val res = mutable.LinkedHashMap[String, Any]("session_ready_us" -> sessionReadyUs)

    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Run `body` as operation `id`: its jobs carry the id as job group. */
    def operation(id: String, pass: Int, name: String, traced: Boolean)(
        body: => Unit): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(id, name, interruptOnCancel = false)
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = Clock.us()
      val err = try { body; null } catch {
        case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      val t1 = Clock.us()
      sc.clearJobGroup()
      ops += Op(id, pass, name, t0, t1, err == null, traced, err)
      if (traced) {
        trace.drain()
        trace.span("op", id, name, t0, t1, Map(
          "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0),
          "cache_live" -> CachePool.liveCount,
          "cache_rdds" -> sc.getPersistentRDDs.size,
          "cache_mem_bytes" -> sc.getRDDStorageInfo.map(_.memSize).sum))
      }
      if (err != null) System.err.println(s"[perfbench] $name failed: $err")
    }

    /** Time `body` as a child span of operation `op` in traced passes. */
    def timed[A](kind: String, op: String, traced: Boolean)(body: => A): A = {
      val t0 = Clock.us()
      val r = body
      if (traced) trace.span(kind, op, kind, t0, Clock.us())
      r
    }

    /** Whole passes until the deadline; a traced run alternates
      * untraced and traced passes and runs at least three (untraced,
      * traced, untraced), so JIT warm-up does not land on one side. */
    def timedPasses(runPass: (Int, Boolean) => Unit): Unit = {
      val t0 = Clock.us()
      var p = 0
      while (p < (if (traceOn) 3 else 1) || (Clock.us() - t0) / 1e6 < seconds) {
        val traced = traceOn && p % 2 == 1
        if (traced) trace.attach()
        val s = Clock.us()
        runPass(p, traced)
        val e = Clock.us()
        if (traced) trace.detach()
        passes += Map("pass" -> p, "traced" -> traced, "start_us" -> s, "end_us" -> e)
        p += 1
      }
    }

    a("workload") match {
      case "lloyd_blobs" =>
        val t0 = Clock.us()
        val df = spark.read.parquet(a("blobs")).persist(StorageLevel.MEMORY_ONLY)
        val n = df.count()
        res("load_s") = (Clock.us() - t0) / 1e6
        // a negative threshold never converges early: every fit runs
        // exactly maxLoop - 1 rounds
        val init = scala.io.Source.fromFile(a("init")).getLines()
          .map(_.split(",").map(_.toFloat)).toArray
        val params = KMeansParams(k = a("k").toInt, threshold = -1.0,
          maxLoop = a("maxloop").toInt, initCentroids = Some(init))

        def pipeline(id: String, pass: Int, traced: Boolean): (KMeansModel, Double) = {
          var r: (KMeansModel, Double) = null
          operation(id, pass, "fit_label_dbi", traced) {
            val model = timed("fit", id, traced)(KMeans.fit(df, params))
            timed("label", id, traced) {
              model.transform(df).write.format("noop").mode("overwrite").save()
            }
            val dbi = timed("dbi", id, traced)(Dbi.compute(model.transform(df), model.centroids))
            r = (model, dbi)
          }
          r
        }

        val w0 = Clock.us()
        val (ref, refDbi) = pipeline("warmup", -1, traced = false)
        res("warmup_s") = (Clock.us() - w0) / 1e6
        ops.clear()
        res("lloyd") = Map("points" -> n, "k" -> params.k,
          "dim" -> ref.centroids(0).length, "rounds" -> ref.iterations,
          "expected_rounds" -> (params.maxLoop - 1), "dbi" -> refDbi) ++
          LloydCheck(df, KMeans.fit(df, params.copy(maxLoop = params.maxLoop - 1)), ref)

        timedPasses { (p, traced) =>
          val (m, dbi) = pipeline(s"p$p", p, traced)
          val same = m != null && m.iterations == ref.iterations &&
            m.centroids.length == ref.centroids.length &&
            m.centroids.zip(ref.centroids).forall { case (x, y) => x.sameElements(y) } &&
            java.lang.Double.compare(dbi, refDbi) == 0
          if (!same && ops.last.ok) ops(ops.size - 1) =
            ops.last.copy(ok = false, err = "result differs from the warm-up run")
        }

      case _ =>
        // `lines` is `name@tablesDir,...` in pass order
        val specs = a("lines").split(",").toSeq.map { x =>
          val i = x.indexOf('@'); x.take(i) -> x.drop(i + 1) }
        val dirOf = specs.toMap
        val lines = specs.map(_._1)
        // warm-up: every line once, its output written the way graft.Verify
        // dumps it, for the oracle compare; artifact builds land here
        val w0 = Clock.us()
        val warmErr = mutable.LinkedHashMap.empty[String, String]
        lines.sorted.foreach { n =>
          operation(s"warmup.$n", -1, n, traced = false) {
            SparkEntry.queries(n)(spark, dirOf(n)).coalesce(1).write.mode("overwrite")
              .parquet(s"$out/check/$n")
          }
          if (!ops.last.ok) warmErr(n) = ops.last.err
        }
        res("warmup_s") = (Clock.us() - w0) / 1e6
        res("warmup_errors") = warmErr.toMap
        ops.clear()
        res("oracle_sql") = lines.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap

        timedPasses { (p, traced) =>
          lines.zipWithIndex.foreach { case (n, i) =>
            val id = s"p$p.$i"
            operation(id, p, n, traced) {
              val df = timed("build", id, traced)(SparkEntry.queries(n)(spark, dirOf(n)))
              timed("action", id, traced) {
                df.write.format("noop").mode("overwrite").save()
              }
            }
          }
        }
    }

    res("artifact_build_s") = SparkEntry.artifactBuildCosts.values.sum
    res("artifact_builds") = SparkEntry.artifactBuildCosts
    res("peak_rss_mb") = vmHwmMb()
    res("passes") = passes.toList
    res("ops") = ops.toList.map(o => Map("id" -> o.id, "pass" -> o.pass,
      "name" -> o.name, "start_us" -> o.startUs, "end_us" -> o.endUs,
      "ok" -> o.ok, "traced" -> o.traced, "err" -> o.err))
    res("records") = trace.records
    Files.writeString(Paths.get(s"$out/result.json"), Json(res))
    spark.stop()
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Replays a fit's last Lloyd round with plain Scala, without any of the
  * engine's kernels: labels every point with its nearest centroid of the
  * round before (`prev`, the same fit stopped one round earlier) and
  * compares each member mean with the final centroid (5-dp rounding). */
object LloydCheck {
  def apply(df: DataFrame, prev: KMeansModel, model: KMeansModel): Map[String, Any] = {
    val cents = prev.centroids
    val k = cents.length
    val dim = cents(0).length
    val bc = df.sparkSession.sparkContext.broadcast(cents)
    val (sums, cnts) = df.rdd.mapPartitions { it =>
      val c = bc.value
      val s = Array.ofDim[Double](k, dim)
      val n = new Array[Long](k)
      it.foreach { row =>
        val p = row.getSeq[Float](0)
        var best = 0
        var bestD = Double.MaxValue
        var j = 0
        while (j < k) {
          var d = 0.0
          var i = 0
          while (i < dim) { val x = p(i).toDouble - c(j)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        var i = 0
        while (i < dim) { s(best)(i) += p(i); i += 1 }
        n(best) += 1
      }
      Iterator.single((s, n))
    }.reduce { (x, y) =>
      for (j <- 0 until k; i <- 0 until dim) x._1(j)(i) += y._1(j)(i)
      for (j <- 0 until k) x._2(j) += y._2(j)
      x
    }
    bc.destroy()
    var maxErr = 0.0
    for (j <- 0 until k if cnts(j) > 0; i <- 0 until dim)
      maxErr = math.max(maxErr, math.abs(sums(j)(i) / cnts(j) - model.centroids(j)(i)))
    Map("max_centroid_err" -> maxErr, "empty_clusters" -> cnts.count(_ == 0))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
