package graft.kmeans

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** `Dbi`'s scale-6 fast path against Spark's own
  * `CAST(d AS DECIMAL(28,6))`, evaluated through Catalyst: wherever
  * `fastUnscaled6` decides, the cast returns that very value in every
  * mode tested. (Everything else goes through that cast itself.) */
class DbiRoundingSpec extends AnyFunSuite {

  private val casts = Seq(EvalMode.LEGACY, EvalMode.ANSI).map { m =>
    m -> Cast(BoundReference(0, DoubleType, nullable = false),
      DecimalType(28, 6), None, m)
  }.toMap

  /** The value, null, or the error class. */
  private def viaSpark(d: Double, m: EvalMode.Value): Any =
    try casts(m).eval(InternalRow(d)) match {
      case null => null
      case v: Decimal => v.toJavaBigDecimal
    } catch { case e: Exception => e.getClass }

  /** Checks every value the fast path decides; returns how many. */
  private def check(ds: Iterable[Double], modes: Seq[EvalMode.Value]): Int = {
    var fast = 0
    for (d <- ds) {
      val u = Dbi.fastUnscaled6(d)
      if (u != Dbi.NoFast) {
        fast += 1
        val got = JBigDecimal.valueOf(u, 6)
        for (m <- modes) viaSpark(d, m) match {
          case w: JBigDecimal =>
            assert(got.compareTo(w) == 0,
              s"d=$d (${java.lang.Double.doubleToRawLongBits(d)}) $m: $got vs $w")
          case w => fail(s"d=$d $m: fast path gave $got, the cast $w")
        }
      }
    }
    fast
  }

  test("1M seeded doubles round like CAST(d AS DECIMAL(28,6))") {
    val rnd = new scala.util.Random(2024)
    val ds = Iterator.fill(1000000) {
      rnd.nextInt(4) match {
        case 0 => rnd.nextDouble() * 100.0 // typical distances
        case 1 => rnd.nextDouble() * 2200.0
        case 2 => // magnitudes 1e-9 .. 1e23, either sign
          val v = math.pow(10, rnd.nextDouble() * 32 - 9)
          if (rnd.nextBoolean()) v else -v
        case _ => math.sqrt(rnd.nextInt(1 << 20) + rnd.nextInt(1000) / 1000.0)
      }
    }.toSeq
    val fast = check(ds, Seq(EvalMode.LEGACY))
    assert(fast > 700000, s"fast path taken $fast times")
    // raw bit patterns: NaNs, ±Inf, subnormals, far beyond precision 28
    val bits = Seq.fill(20000)(java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        0.0, -0.0, Double.MinPositiveValue, Double.MaxValue)
    check(bits, Seq(EvalMode.LEGACY, EvalMode.ANSI))
  }

  test("every tested half-way point (m + 0.5)/1e6 and its nextUp/nextDown") {
    val rnd = new scala.util.Random(7)
    val ms = (0L until 100000L) ++
      Seq.fill(200000)(rnd.nextInt(Int.MaxValue).toLong) ++
      ((1L << 31) - 2000L to (1L << 31) + 2000L)
    val ds = ms.iterator.flatMap { m =>
      val h = (m + 0.5) / 1e6
      Iterator(h, math.nextUp(h), math.nextDown(h), -h)
    }.toSeq
    check(ds, Seq(EvalMode.LEGACY))
  }

  test("values at and above the 2^31/1e6 cut-off, and the precision-28 " +
    "overflow edge, under ANSI on and off") {
    val cut = (1L << 31) / 1e6
    val around = Seq(cut, math.nextUp(cut), math.nextDown(cut),
      2147.4836475, 2147.4836485) ++
      (0 until 20000).map(i => cut + i * 1.37e-7) ++
      (0 until 2000).map(i => cut * (1 + i))
    val p28 = 1e22
    val edge = Seq(p28, math.nextUp(p28), math.nextDown(p28), -p28,
      math.nextDown(-p28), 9.999999999999999e21, 9999999999999999.5,
      99999999999999.9999995, 1e21 + 0.5, 9.223372036854776e12,
      9.223372036854775e12, 9.2233720368547758e18)
    check(around ++ edge, Seq(EvalMode.LEGACY, EvalMode.ANSI))
    assert(Dbi.fastUnscaled6(2147.0) == 2147000000L)
    assert(Dbi.fastUnscaled6(2 * cut) == Dbi.NoFast)
  }
}

/** `Dbi.compute`'s edge outcomes, pinned as measured on the
  * `groupBy` + `DECIMAL(28,6)` formulation it replaced, with ANSI on and
  * off: the same DBI bits where that returned a value, an exception
  * where it threw. Plus its round shape: one job, one stage. */
class DbiEdgeSpec extends SparkSpec {

  private val cents = Array(Array(0f, 0f), Array(10f, 10f))
  private val schema = StructType(Seq(
    StructField("features", ArrayType(FloatType, containsNull = true)),
    StructField("cluster", IntegerType)))
  private val base = Seq(Row(Seq(1f, 0f), 0), Row(Seq(0f, 2f), 0),
    Row(Seq(9f, 10f), 1), Row(Seq(10f, 13f), 1))

  private val plain = 4596810882297566351L // DBI of `base` alone

  /** name -> (rows, outcome with ANSI on, outcome with ANSI off);
    * Some(bits) is the DBI's raw bits, None an exception. */
  private val cases: Seq[(String, Seq[Row], Option[Long], Option[Long])] = Seq(
    // NaN / ±Inf distances cast to NULL in both modes: counted, not summed
    ("NaN coordinate", base :+ Row(Seq(Float.NaN, 0f), 0),
      Some(plain), Some(plain)),
    ("+Inf coordinate", base :+ Row(Seq(Float.PositiveInfinity, 0f), 0),
      Some(plain), Some(plain)),
    ("-Inf coordinate", base :+ Row(Seq(Float.NegativeInfinity, 0f), 1),
      Some(4596386278852731299L), Some(4596386278852731299L)),
    // ≥ 1e22 overflows DECIMAL(28,6): an error under ANSI, NULL without
    ("distance >= 1e22", base :+ Row(Seq(1e23f, 0f), 0),
      None, Some(plain)),
    ("label k", base :+ Row(Seq(1f, 1f), 2), None, None),
    ("label -1", base :+ Row(Seq(1f, 1f), -1), None, None),
    ("label -2", base :+ Row(Seq(1f, 1f), -2), None, None),
    ("null label", base :+ Row(Seq(1f, 1f), null), None, None),
    // three 5e12 distances: the unscaled sum passes Long.MaxValue
    ("per-cluster sum overflows a long",
      base ++ Seq.fill(3)(Row(Seq(5e12f, 0f), 0)),
      Some(4776263147767555630L), Some(4776263147767555630L)),
    ("a cluster of only NaN distances",
      base.take(2) :+ Row(Seq(Float.NaN, 0f), 1), None, None),
    ("null feature array", base :+ Row(null, 0), Some(plain), Some(plain)),
    ("null element", base :+ Row(Seq(3f, null), 0),
      Some(4598766861255926538L), Some(4598766861255926538L)),
    ("a cluster of only null feature arrays",
      base.take(2) :+ Row(null, 1), None, None))

  for ((name, rows, ansiOn, ansiOff) <- cases)
    test(s"DBI edge: $name") {
      for ((ansi, want) <- Seq("true" -> ansiOn, "false" -> ansiOff)) {
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try {
          val df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2), schema)
          want match {
            case Some(bits) =>
              val got = Dbi.compute(df, cents)
              assert(java.lang.Double.doubleToRawLongBits(got) === bits,
                s"ansi=$ansi got $got")
            case None =>
              intercept[Exception](Dbi.compute(df, cents))
          }
        } finally spark.conf.unset("spark.sql.ansi.enabled")
      }
    }

  test("Dbi.compute is one job of one stage (no exchange), one task per " +
    "input partition") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(4)
    val pts = Seq.fill(2000)(Row(Seq.fill(2)(rnd.nextFloat() * 10f), 0))
    val input = spark.createDataFrame(sc.parallelize(pts, 5), schema)
      .drop("cluster")
    val labeled = KMeansModel(cents, 0, converged = true).transform(input)
    val group = "dbi-shape-spec"
    val jobs = new ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.add(js.stageInfos.size -> js.stageInfos.map(_.numTasks).sum)
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "dbi shape spec")
    try {
      Dbi.compute(labeled, cents)
      org.apache.spark.graftshim.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
    assert(jobs.asScala.toSeq === Seq(1 -> 5))
  }
}
