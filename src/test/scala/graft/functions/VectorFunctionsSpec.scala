package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.VectorFunctions._

class VectorFunctionsScalaSpec extends AnyFunSuite {

  test("euclidean matches hand computation (3-4-5)") {
    assert(euclidean(Array(0f, 0f), Array(3f, 4f)) === 5.0)
  }

  test("euclidean of identical vectors is 0") {
    assert(euclidean(Array(1.5f, -2f, 7f), Array(1.5f, -2f, 7f)) === 0.0)
  }

  test("dot product") {
    assert(dot(Array(1f, 2f, 3f), Array(4f, 5f, 6f)) === 32.0)
  }

  test("cosine of parallel vectors is 1, zero-norm guard yields 0") {
    assert(math.abs(cosine(Array(1f, 2f), Array(2f, 4f)) - 1.0) < 1e-12)
    assert(cosine(Array(0f, 0f), Array(1f, 1f)) === 0.0)
  }

  test("argmin ties break to the LOWEST index (reference KMapper.java:39)") {
    // point equidistant from centroids 0 and 1
    val cents = Array(Array(0f, 0f), Array(2f, 0f), Array(10f, 10f))
    assert(argminCentroid(Array(1f, 0f), cents) === 0)
    // nearest is index 2
    assert(argminCentroid(Array(9f, 9f), cents) === 2)
  }

  test("meanRounded5 rounds half-up at 5 dp (PointWritable.calcAverage)") {
    // 0.123456 * 2 / 2 = 0.123456 -> 0.12346
    val m = meanRounded5(Array(0.246912), 2L)
    assert(m(0) === 0.12346f)
    // exact halves round up: 0.000005 -> 0.00001 (Math.round half-up)
    val h = meanRounded5(Array(0.00001), 2L)
    assert(h(0) === 0.00001f || h(0) === 0.0f) // float repr of .000005 decides
    val neg = meanRounded5(Array(-2.0), 4L)
    assert(neg(0) === -0.5f)
  }

  test("addInto accumulates element-wise") {
    val acc = Array(1.0, 2.0)
    addInto(acc, Array(0.5f, 0.5f))
    assert(acc.toSeq === Seq(1.5, 2.5))
  }

  test("assignChunk + addChunk pick argminCentroid's index row by row, " +
    "unhinted and wrongly hinted, and sum bit-equal to addInto (ties, " +
    "NaN, ±Inf; k in 1,3,4,5,17; dim 1, 16)") {
    val rnd = new scala.util.Random(5)
    val specials = Array(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity)
    // small integer grid: exact distance ties are common; 1 in 10
    // coordinates is NaN or ±Inf (Inf − Inf makes NaN distances too)
    def coord(): Float = rnd.nextInt(10) match {
      case 0 => specials(rnd.nextInt(3))
      case 1 | 2 | 3 => rnd.nextFloat() * 4f - 1f
      case _ => rnd.nextInt(3).toFloat
    }
    def bits(a: Array[Double]) = a.map(java.lang.Double.doubleToLongBits).toSeq
    for (dim <- Seq(1, 16); k <- Seq(1, 3, 4, 5, 17)) {
      val cents = Array.fill(k)(Array.fill(dim)(coord()))
      if (k > 1) cents(k - 1) = cents(0).clone() // exact tie with 0
      val flat = cents.flatMap(_.map(_.toDouble))
      val rows = Seq.fill(400)(Array.fill(dim)(coord())) ++
        cents.map(_.clone()) // rows sitting exactly on a centroid
      val want = rows.map(argminCentroid(_, cents))
      // the fit's two steps, guessing the probe (no earlier pick) or a
      // hint that is never the scan's pick (when k > 1)
      def fold(chunk: Seq[Array[Float]], prev: Array[Int],
          sums: Array[Double], cnts: Array[Long]): Unit = {
        val p = chunk.flatten.toArray
        val radii = halfGapRadii(flat, k)
        addChunk(p, dim, new GuessArgmin(flat, k, radii,
          cellTable(flat, k, radii)).assignChunk(p, prev), sums, cnts)
      }
      val wrong = want.map(c => (c + 1) % k).toArray
      for ((hints, how) <- Seq((null, "no hint"), (wrong, "wrong hint"))) {
        // per row: a one-row chunk lands in exactly argminCentroid's cell
        rows.indices.foreach { r =>
          val cnts = new Array[Long](k)
          fold(Seq(rows(r)), if (hints == null) null else Array(hints(r)),
            new Array[Double](k * dim), cnts)
          assert(cnts.indexOf(1L) === want(r),
            s"k=$k dim=$dim $how row=${rows(r).toSeq}")
          assert(cnts.sum === 1L)
        }
        // per slice: several chunks in row order ≡ addInto over the rows
        val wantSums = Array.fill(k)(new Array[Double](dim))
        val wantN = new Array[Long](k)
        rows.zip(want).foreach { case (p, c) =>
          addInto(wantSums(c), p)
          wantN(c) += 1
        }
        val sums = new Array[Double](k * dim)
        val cnts = new Array[Long](k)
        rows.indices.grouped(7).foreach { g =>
          fold(g.map(rows), if (hints == null) null else g.map(hints).toArray,
            sums, cnts)
        }
        assert(bits(sums) === bits(wantSums.flatten), s"k=$k dim=$dim $how")
        assert(cnts.toSeq === wantN.toSeq, s"k=$k dim=$dim $how")
      }
    }
  }

  /** The half-gap shortcut against the scan: for every row and every
    * guess (a sample at k = 129), a guess the test passes is the scan's
    * pick, and [[GuessArgmin.pick]] always is. Returns the number of
    * passing (row, guess) pairs. */
  private def checkShortcut(
      rows: Seq[Array[Double]], cents: Array[Array[Double]],
      what: String): Int = {
    val k = cents.length
    val flat = cents.flatten
    val radii = halfGapRadii(flat, k)
    val cells = cellTable(flat, k, radii)
    val rnd = new scala.util.Random(k * 31 + rows.size)
    var hits = 0
    rows.foreach { x =>
      // today's scan, and the per-centroid sqdist fold it must equal
      val want = argminSqDist(x, flat, k)
      var ref = 0
      var refD = sqdistTo(x, flat, 0)
      for (c <- 1 until k) {
        val d = sqdistTo(x, flat, c)
        if (d < refD) { refD = d; ref = c }
      }
      assert(want === ref, s"$what: scan vs fold, row ${x.toSeq}")
      val guesses =
        if (k <= 17) 0 until k
        else Seq(want, (want + 1) % k, (want + k - 1) % k) ++
          Seq.fill(6)(rnd.nextInt(k))
      guesses.foreach { g =>
        if (radii != null && halfGapHit(x, flat, radii, g)) {
          hits += 1
          assert(g === want, s"$what: guess $g passed, scan picks $want, " +
            s"row ${x.toSeq}")
        }
        val am = new GuessArgmin(flat, k, radii, cells)
        System.arraycopy(x, 0, am.x, 0, x.length)
        assert(am.pick(g) === want, s"$what: pick($g), row ${x.toSeq}")
      }
      val am = new GuessArgmin(flat, k, radii, cells)
      System.arraycopy(x, 0, am.x, 0, x.length)
      assert(am.pick(-1) === want, s"$what: cell-table pick, row ${x.toSeq}")
      // a float row: the four-row verify, the row four times over
      val xf = x.map(_.toFloat)
      if (java.util.Arrays.equals(xf.map(_.toDouble), x)) {
        val chunk = Array.fill(4)(xf).flatten
        guesses.foreach { g =>
          assert(new GuessArgmin(flat, k, radii, cells)
            .assignChunk(chunk, Array.fill(4)(g)).toSeq === Seq.fill(4)(want),
            s"$what: four-row verify of $g, row ${x.toSeq}")
        }
      }
    }
    hits
  }

  test("the cell-table guess and the four-row verify pick argminSqDist's " +
    "index (seeded codebooks; NaN and ±Inf rows; duplicate centroids; " +
    "k = 1; dim 1, 2, 16; zero spread on an axis; rows far outside the " +
    "centroid box; chunks of 1-7 rows)") {
    val rnd = new scala.util.Random(31)
    def gauss(s: Double) = (rnd.nextGaussian() * s).toFloat
    val specials = Array(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity)
    var hits = 0
    for (dim <- Seq(1, 2, 16); k <- Seq(1, 2, 5, 16, 64);
         flatAxis <- Seq(false, true)) {
      val what = s"k=$k dim=$dim flatAxis=$flatAxis"
      val cents = Array.fill(k)(Array.fill(dim)(gauss(10)))
      if (k > 2) cents(2) = cents(1).clone() // a duplicate: radius 0
      if (flatAxis) cents.foreach(_(dim - 1) = 3f) // no spread on one axis
      val flat = cents.flatMap(_.map(_.toDouble))
      val radii = halfGapRadii(flat, k)
      val cells = cellTable(flat, k, radii)
      assert((cells == null) === (dim == 1), what)
      val rows = rnd.shuffle(
        Seq.fill(200)(cents(rnd.nextInt(k)).map(_ + gauss(0.5))) ++
          Seq.fill(40)(Array.fill(dim)(gauss(1e4))) ++ // far outside the box
          Seq.fill(30)(Array.fill(dim)(gauss(10))
            .updated(rnd.nextInt(dim), specials(rnd.nextInt(3)))) ++
          cents.map(_.clone())).toArray
      val wide = rows.map(_.map(_.toDouble))
      val want = wide.map(argminSqDist(_, flat, k))
      if (cells != null) wide.zip(want).foreach { case (x, w) =>
        val g = cells.guess(x)
        assert(g >= 0 && g < k, s"$what: guess $g")
        if (halfGapHit(x, flat, radii, g)) {
          hits += 1
          assert(g === w, s"$what: row ${x.toSeq}")
        }
      }
      // per row, from no pick
      val am = new GuessArgmin(flat, k, radii, cells)
      wide.zip(want).foreach { case (x, w) =>
        System.arraycopy(x, 0, am.x, 0, dim)
        assert(am.pick(-1) === w, s"$what: pick(-1), row ${x.toSeq}")
      }
      // per chunk of 1-7 rows: no pick, right, wrong and random picks
      val hints = Seq(null, want, want.map(c => (c + 1) % k),
        Array.fill(want.length)(rnd.nextInt(k)))
      for (size <- 1 to 7; (h, how) <- hints.zip(Seq("none", "right",
          "wrong", "random"))) {
        val am = new GuessArgmin(flat, k, radii, cells)
        rows.indices.grouped(size).foreach { g =>
          val got = am.assignChunk(g.flatMap(rows(_)).toArray,
            if (h == null) null else g.map(h).toArray)
          assert(got.toSeq === g.map(want), s"$what: chunk of $size, $how")
        }
      }
    }
    assert(hits > 2000, s"the cell-table guess passed only $hits times")
  }

  test("readRow reads a null-free unsafe array at fixed offsets as the " +
    "per-element path reads it; a null element in any null word fails") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
    val rnd = new scala.util.Random(37)
    def unsafe(et: DataType, v: Seq[Any]): UnsafeArrayData =
      UnsafeProjection.create(Array[DataType](ArrayType(et, containsNull = true)))
        .apply(InternalRow(new GenericArrayData(v.toArray))).getArray(0)
        .asInstanceOf[UnsafeArrayData]
    def bits(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits).toSeq
    for (n <- Seq(1, 2, 16, 63, 64, 65, 130); isFloat <- Seq(true, false)) {
      val et = if (isFloat) FloatType else DoubleType
      val v: Seq[Any] = Seq.fill(n)(rnd.nextInt(5) match {
        case 0 => if (isFloat) Float.NaN else Double.NaN
        case 1 => if (isFloat) Float.NegativeInfinity else Double.PositiveInfinity
        case _ => if (isFloat) rnd.nextGaussian().toFloat else rnd.nextGaussian()
      })
      val u = unsafe(et, v)
      assert(nullFreeValues(u) >= 0, s"n=$n")
      val fast = new Array[Double](n)
      val slow = new Array[Double](n)
      assert(readRow(u, isFloat, fast))
      assert(readRow(new GenericArrayData(v.toArray), isFloat, slow))
      assert(bits(fast) === bits(slow), s"n=$n $et")
      for (at <- Seq(0, n / 2, n - 1).distinct) {
        val withNull = unsafe(et, v.updated(at, null))
        assert(nullFreeValues(withNull) === -1L, s"n=$n null at $at")
        assert(!readRow(withNull, isFloat, new Array[Double](n)),
          s"n=$n null at $at")
      }
    }
  }

  test("half-gap shortcut: a guess that passes is always the scan's " +
    "pick (random rows and centroids, k in 1,2,3,4,5,17,129; dim 1, " +
    "16, 64), and every pick equals argminCentroid") {
    val rnd = new scala.util.Random(23)
    var hits = 0
    for (dim <- Seq(1, 16, 64); k <- Seq(1, 2, 3, 4, 5, 17, 129)) {
      val cents = Array.fill(k)(Array.fill(dim)((rnd.nextGaussian() * 10).toFloat))
      // near-duplicate and duplicate centroids
      if (k > 2) cents(2) = cents(1).map(v => Math.nextUp(v))
      if (k > 4) cents(4) = cents(3).clone()
      def near(c: Array[Float], s: Double) =
        c.map(v => (v + rnd.nextGaussian() * s).toFloat)
      val rows: Seq[Array[Float]] =
        Seq.fill(150)(near(cents(rnd.nextInt(k)), 0.5)) ++
          Seq.fill(150)(near(cents(rnd.nextInt(k)), 5.0)) ++
          Seq.fill(50)(Array.fill(dim)((rnd.nextGaussian() * 20).toFloat)) ++
          cents.map(_.clone())
      rows.foreach { p =>
        assert(argminSqDist(p.map(_.toDouble), cents.flatten.map(_.toDouble), k) ===
          argminCentroid(p, cents), s"k=$k dim=$dim")
      }
      hits += checkShortcut(rows.map(_.map(_.toDouble)),
        cents.map(_.map(_.toDouble)), s"k=$k dim=$dim")
    }
    assert(hits > 2000, s"the shortcut passed only $hits times")
  }

  test("half-gap shortcut edges: half-way rows, duplicate centroids, " +
    "k = 1 and 2, NaN and ±Inf, squares that overflow, subnormal-range " +
    "separations, rounding-level ties") {
    val rnd = new scala.util.Random(29)
    // rows exactly half-way between two centroids on an even integer
    // grid (the midpoint is exact), tried with either index as guess
    for (dim <- Seq(1, 16, 64); k <- Seq(2, 3, 5)) {
      val cents = Array.fill(k)(Array.fill(dim)(2.0 * rnd.nextInt(8)))
      val mids = for (a <- 0 until k; b <- a + 1 until k)
        yield cents(a).zip(cents(b)).map { case (u, v) => (u + v) / 2 }
      checkShortcut(mids, cents, s"half-way k=$k dim=$dim")
    }
    // a row ON a centroid that has a duplicate: distance 0, radius 0
    val dup = Array(Array(1.0, 2.0), Array(5.0, 5.0), Array(1.0, 2.0))
    assert(halfGapRadii(dup.flatten, 3).toSeq.map(_ == 0.0) ===
      Seq(true, false, true))
    checkShortcut(Seq(Array(1.0, 2.0), Array(1.0, 2.5), Array(5.0, 4.0)),
      dup, "duplicates")
    // k = 1: radius +Inf, every finite row passes; NaN and ±Inf do not
    val one = Array(Array(3.0, -1.0))
    assert(halfGapRadii(one.flatten, 1).toSeq === Seq(Double.PositiveInfinity))
    checkShortcut(Seq(Array(0.0, 0.0), Array(Double.NaN, 0.0),
      Array(Double.PositiveInfinity, 0.0), Array(1e300, 1e300)), one, "k=1")
    // NaN and ±Inf rows against a finite codebook, k = 2
    val two = Array(Array(0.0, 0.0), Array(4.0, 0.0))
    checkShortcut(Seq(Array(Double.NaN, 0.0), Array(0.5, Double.NaN),
      Array(Double.PositiveInfinity, 0.0), Array(Double.NegativeInfinity, 0.0),
      Array(2.0, 0.0), Array(0.1, 0.0), Array(3.9, 0.0)), two, "k=2 specials")
    // NaN or ±Inf in the codebook turns the shortcut off
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val cb = Array(Array(0.0, 0.0), Array(bad, 1.0), Array(2.0, 2.0))
      assert(halfGapRadii(cb.flatten, 3) === null, s"codebook with $bad")
      checkShortcut(Seq(Array(0.0, 0.0), Array(2.0, 2.0), Array(bad, 1.0)),
        cb, s"codebook with $bad")
    }
    // coordinates near 1e154: row squares overflow to +Inf, and a
    // codebook whose pairwise squares overflow is refused
    val big = Array(Array(1e154, 0.0), Array(-1e154, 0.0), Array(0.0, 1e153))
    assert(halfGapRadii(big.flatten, 3) === null)
    val fl = Array(Array(0.0, 0.0), Array(3e38, 0.0), Array(0.0, -3e38))
    assert(halfGapRadii(fl.flatten, 3) != null)
    checkShortcut(Seq(Array(1e154, 1e154), Array(-1e154, 0.0),
      Array(2.9e38, 1e154), Array(1e-3, 0.0), Array(2.9e38, 1.0)), fl,
      "overflowing squares")
    // subnormal-range separations: refused in the codebook; a row a
    // subnormal-range distance from its centroid passes and is right
    val tiny = Array(Array(0.0, 0.0), Array(1e-160, 0.0), Array(1.0, 1.0))
    assert(halfGapRadii(tiny.flatten, 3) === null)
    checkShortcut(Seq(Array(0.0, 0.0), Array(5e-161, 0.0), Array(1e-160, 0.0)),
      tiny, "subnormal separations")
    val minF = java.lang.Float.MIN_VALUE.toDouble
    val sub = Array(Array(0.0, 0.0), Array(minF, 0.0), Array(1.0, 0.0))
    assert(halfGapRadii(sub.flatten, 3) != null)
    assert(checkShortcut(Seq(Array(0.0, 0.0), Array(minF, 0.0),
      Array(1e-300, 0.0), Array(minF / 2, 0.0), Array(minF * 0.4, 0.0),
      Array(minF * 0.6, 1e-320)), sub, "subnormal rows") > 0)
    // rounding-level ties: c0 = h, c1 = −h and the row x = p + t·h,
    // p ⊥ h at 2⁻³⁰|h| (each (h₂ᵢ, h₂ᵢ₊₁) paired with (−h₂ᵢ₊₁, h₂ᵢ)·2⁻³⁰,
    // exact) and |t| ≤ 2⁻⁵², so the real distances to c0 and c1 and
    // ¼·d(c0,c1)² agree to a few ulps and the computed ones are ordered
    // by rounding: with ε = 0 a guess passes where the scan picks the
    // other index. Float centroids (the fit's and the labeller's
    // codebooks) and full-mantissa double ones.
    for (dim <- Seq(2, 16, 64); float <- Seq(false, true)) {
      val s = math.scalb(1.0, -30)
      var hits = 0
      for (_ <- 0 until 300) {
        val h = Array.fill(dim) {
          val v = 0.5 + rnd.nextDouble() / 2
          if (float) v.toFloat.toDouble else v
        }
        val t = (rnd.nextInt(9) - 4) * math.scalb(1.0, -54)
        val x = Array.tabulate(dim) { i =>
          val p =
            if (i % 2 == 0) (if (i + 1 < dim) -h(i + 1) * s else 0.0)
            else h(i - 1) * s
          p + t * h(i)
        }
        hits += checkShortcut(Seq(x), Array(h, h.map(-_)),
          s"rounding tie dim=$dim float=$float")
      }
      assert(hits === 0, s"dim=$dim float=$float")
    }
  }
}

class VectorFunctionsColumnSpec extends SparkSpec {

  test("Column forms agree with Scala forms on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)(
      (Array.fill(16)(rnd.nextFloat()), Array.fill(16)(rnd.nextFloat())))
    val df = rows.toDF("a", "b")
    val got = df.select(
      dotCol(col("a"), col("b")).as("dot"),
      euclideanCol(col("a"), col("b")).as("euc"),
      cosineCol(col("a"), col("b")).as("cos")).collect()
    rows.zip(got).foreach { case ((a, b), r) =>
      assert(math.abs(r.getDouble(0) - dot(a, b)) < 1e-9)
      assert(math.abs(r.getDouble(1) - euclidean(a, b)) < 1e-9)
      assert(math.abs(r.getDouble(2) - cosine(a, b)) < 1e-9)
    }
  }

  test("assignCol NaN/null edges match argminCentroid: all-NaN " +
    "row yields 0 (a valid index, never -1); null array yields null") {
    import spark.implicits._
    val cents = Array(Array(0f, 0f), Array(1f, 1f))
    val df = Seq(
      (1L, Array(Float.NaN, Float.NaN)), // all distances NaN → 0
      (2L, Array(0.9f, 0.9f)),           // sanity: nearest is 1
      (3L, null.asInstanceOf[Array[Float]]))
      .toDF("id", "v")
    // both codegen and interpreted paths must agree
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val got = df.select(col("id"),
            assignCol(col("v"), cents).as("c"))
          .orderBy("id").collect()
        assert(got(0).getInt(1) === 0, codegen)
        assert(got(0).getInt(1) ===
          argminCentroid(Array(Float.NaN, Float.NaN), cents))
        assert(got(1).getInt(1) === 1, codegen)
        assert(got(2).isNullAt(1), codegen)
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("VecArgminSqDist on well-separated blobs: codegen and eval give " +
    "argminCentroid's labels through the cell-table guess (k 16, 64; " +
    "dim 2, 16; NaN and ±Inf rows, rows far outside the box, null " +
    "elements)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(41)
    val modes = Seq(
      Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true"),
      Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))
    for (dim <- Seq(2, 16); k <- Seq(16, 64)) {
      val cents = Array.fill(k)(Array.fill(dim)((rnd.nextGaussian() * 10).toFloat))
      val rows: Seq[Array[Float]] =
        Seq.fill(400)(cents(rnd.nextInt(k)).map(v => (v + rnd.nextGaussian() * 0.5).toFloat)) ++
          Seq.fill(20)(Array.fill(dim)((rnd.nextGaussian() * 1e4).toFloat)) ++
          Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity).map(s =>
            Array.fill(dim)(1f).updated(rnd.nextInt(dim), s))
      val schema = StructType(Seq(StructField("id", IntegerType),
        StructField("v", ArrayType(FloatType, containsNull = true))))
      // one row with a null element: the per-element path
      val data = rows.zipWithIndex.map { case (r, i) => Row(i, r.toSeq) } :+
        Row(rows.size, Seq.tabulate(dim)(i => if (i == 0) null else 1f))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
      val want = rows.map(argminCentroid(_, cents)) :+
        argminCentroid(Array.fill(dim)(1f).updated(0, 0f),
          cents.map(_.updated(0, 0f)))
      val got = modes.map { conf =>
        conf.foreach { case (key, v) => spark.conf.set(key, v) }
        try df.select(col("id"), assignCol(col("v"), cents)).collect()
          .map(r => r.getInt(0) -> r.getInt(1)).toMap
        finally conf.keys.foreach(spark.conf.unset)
      }
      for ((g, conf) <- got.zip(modes); i <- want.indices)
        assert(g(i) === want(i), s"k=$k dim=$dim $conf row $i")
    }
  }

  test("VecArgminSqDist ≡ argminCentroid, codegen and eval, on " +
    "array<float> and array<double> (ties, NaN, ±Inf, null elements; " +
    "k in 1,3,4,5,17,129; dim 1, 16)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(17)
    val specials = Array(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity)
    // small integer grid: exact distance ties are common; 1 in 10
    // coordinates is NaN or ±Inf (Inf − Inf makes NaN distances too)
    def coord(): Float = rnd.nextInt(10) match {
      case 0 => specials(rnd.nextInt(3))
      case 1 | 2 | 3 => rnd.nextFloat() * 4f - 1f
      case _ => rnd.nextInt(3).toFloat
    }
    // the per-element reference: double fold, null contributes 0,
    // strict-`<` running min seeded from centroid 0
    def ref(p: Seq[Any], cents: Array[Array[Float]]): Int = {
      def dist(c: Array[Float]) = p.indices.foldLeft(0.0) { (s, i) =>
        p(i) match {
          case null => s
          case v: Float => val d = v.toDouble - c(i).toDouble; s + d * d
          case v: Double => val d = v - c(i).toDouble; s + d * d
        }
      }
      var best = 0
      var bestD = dist(cents(0))
      for (c <- 1 until cents.length) {
        val d = dist(cents(c))
        if (d < bestD) { bestD = d; best = c }
      }
      best
    }
    val modes = Seq(
      Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true"),
      Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false"))
    for (dim <- Seq(1, 16); k <- Seq(1, 3, 4, 5, 17, 129)) {
      val cents = Array.fill(k)(Array.fill(dim)(coord()))
      if (k > 1) cents(k - 1) = cents(0).clone() // exact tie with 0
      val floatRows: Seq[Seq[Any]] =
        Seq.fill(300)(Seq.fill(dim)(coord())) ++ cents.map(_.toSeq) ++
          Seq.fill(20)(Seq.tabulate(dim)(i =>
            if (i == 0 || rnd.nextInt(3) == 0) null else coord()))
      // doubles off the float grid, plus the float rows widened
      val doubleRows: Seq[Seq[Any]] = floatRows.map(_.map {
        case null => null
        case v: Float =>
          if (rnd.nextBoolean()) v.toDouble else v.toDouble + 1e-9 * rnd.nextGaussian()
      })
      for ((et, rows) <- Seq(FloatType -> floatRows, DoubleType -> doubleRows)) {
        val schema = StructType(Seq(StructField("id", IntegerType),
          StructField("v", ArrayType(et, containsNull = true))))
        val df = spark.createDataFrame(spark.sparkContext.parallelize(
          rows.zipWithIndex.map { case (r, i) => Row(i, r) }, 3), schema)
        val want = rows.map(ref(_, cents))
        rows.zip(want).foreach { case (r, w) =>
          if (et == FloatType && !r.contains(null))
            assert(w === argminCentroid(r.map(_.asInstanceOf[Float]).toArray, cents))
        }
        for (conf <- modes) {
          conf.foreach { case (key, v) => spark.conf.set(key, v) }
          try {
            val got = df.select(col("id"), assignCol(col("v"), cents))
              .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
            rows.indices.foreach { i =>
              assert(got(i) === want(i),
                s"k=$k dim=$dim $et $conf row=${rows(i)}")
            }
          } finally conf.keys.foreach(spark.conf.unset)
        }
      }
    }
  }
}
