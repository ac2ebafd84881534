package org.apache.spark.graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, on the
  * same base as the listener events' epoch-millisecond timestamps. */
object Clock {
  private val baseUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def us(): Long = baseUs + System.nanoTime() / 1000L
}

/** Span and counter recorder built only from Spark's public listener
  * interfaces. Records stay in memory until [[records]] is read at the
  * end of the run.
  *
  * Each operation runs under its own job group (the operation id), so
  * jobs and SQL executions carry their owner; records without one (for
  * example jobs started by a streaming query's own thread) keep a null
  * owner and are given to the operation in flight by the roll-up. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val out = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def emit(r: Map[String, Any]): Unit = out.synchronized { out += r }

  // stage id -> job id: task metrics fold into their job's record
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobAcc = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
  private val jobOpen = mutable.HashMap.empty[Int, Map[String, Any]]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .orNull

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobAcc.synchronized {
      e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
      jobAcc(e.jobId) = mutable.HashMap.empty
      jobOpen(e.jobId) = Map("kind" -> "job", "job" -> e.jobId,
        "op" -> group(e.properties), "start_us" -> e.time * 1000L,
        "stages" -> e.stageInfos.size,
        "sql_exec" -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).orNull)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobAcc.synchronized {
      val acc = jobAcc.remove(e.jobId).getOrElse(mutable.HashMap.empty)
      jobOpen.remove(e.jobId).foreach { j =>
        emit(j ++ acc.toMap ++ Map("end_us" -> e.time * 1000L,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobAcc.synchronized {
        Option(stageJob.get(e.stageInfo.stageId)).flatMap(jobAcc.get)
          .foreach(a => a("stages_run") = a.getOrElse("stages_run", 0.0) + 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      jobAcc.synchronized {
        Option(stageJob.get(e.stageId)).flatMap(jobAcc.get).foreach { a =>
          def add(k: String, v: Double): Unit = a(k) = a.getOrElse(k, 0.0) + v
          add("tasks", 1)
          add("task_run_ms", m.executorRunTime.toDouble)
          add("task_cpu_ns", m.executorCpuTime.toDouble)
          add("gc_ms", m.jvmGCTime.toDouble)
          add("deser_ms", m.executorDeserializeTime.toDouble)
          add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
          add("scan_records", m.inputMetrics.recordsRead.toDouble)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("result_bytes", m.resultSize.toDouble)
          a("peak_mem_bytes") = math.max(a.getOrElse("peak_mem_bytes", 0.0),
            m.peakExecutionMemory.toDouble)
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        emit(Map("kind" -> "sql_start", "exec" -> s.executionId,
          "op" -> s.jobGroupId.orNull, "time_us" -> s.time * 1000L))
      case s: SparkListenerSQLExecutionEnd =>
        emit(Map("kind" -> "sql_end", "exec" -> s.executionId,
          "time_us" -> s.time * 1000L))
      // StreamingQueryListener events travel on the shared bus, so this
      // sees the progress of queries in every session, including the
      // private sessions the streaming operators start
      case e: StreamingQueryListener.QueryProgressEvent =>
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
        emit(Map("kind" -> "batch",
          "time_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
          "plan_ms" -> d.getOrElse("queryPlanning", 0.0),
          "wal_ms" -> d.getOrElse("walCommit", 0.0),
          "add_batch_ms" -> d.getOrElse("addBatch", 0.0)))
      case _ =>
    }
  }

  private def phases(kind: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    emit(Map("kind" -> kind, "time_us" -> start * 1000L,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning")))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases("qe", qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases("qe", qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Block until every event posted so far has been delivered. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  def detach(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }

  /** A span recorded by the runner around a call into the program. */
  def span(kind: String, op: String, name: String, startUs: Long, endUs: Long,
      extra: Map[String, Any] = Map.empty): Unit =
    emit(Map("kind" -> kind, "op" -> op, "name" -> name,
      "start_us" -> startUs, "end_us" -> endUs) ++ extra)

  def records: Seq[Map[String, Any]] = out.synchronized(out.toList)
}
