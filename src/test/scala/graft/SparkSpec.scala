package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite; cheap after the
  * first JVM-wide context). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  /** `body`'s value and the names of the stages of every job it
    * starts, such as "treeReduce at ExactMerge.scala:…". */
  def jobStageNames[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        js.stageInfos.foreach(si => names.add(si.name))
    }
    sc.addSparkListener(listener)
    try {
      val v = body
      org.apache.spark.graftshim.drainListenerBus(sc)
      (v, names.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // keep the shared context alive across suites; just clear cache
    spark.catalog.clearCache()
    super.afterAll()
  }
}
