package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Vector math used across the engine: clustering (assignment distance),
  * similarity search (cosine / dot), and dedup (embedding near-dup).
  *
  * Two forms of each function:
  *   - a plain Scala form used inside typed `Dataset.map` / driver loops
  *     (parity with the reference's float-in / double-accumulate math,
  *     `Code/KmeanMapReduce/src/PointWritable.java:95-104`);
  *   - a `Column` form built from `org.apache.spark.sql.functions`
  *     higher-order functions (`zip_with` / `aggregate`), which stays
  *     inside Catalyst and whole-stage codegen — preferred in DataFrame
  *     pipelines at scale.
  */
object VectorFunctions {

  // ---------------------------------------------------------------- Scala

  /** Euclidean distance; float inputs, double accumulation — matches the
    * reference (`PointWritable.calcDistance`, PointWritable.java:95-104). */
  def euclidean(a: Array[Float], b: Array[Float]): Double =
    math.sqrt(sqdist(a, b))

  /** Squared Euclidean distance (no sqrt — cheaper for argmin). */
  def sqdist(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dim mismatch: ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dim mismatch: ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  /** Index of the nearest centroid; ties broken to the LOWEST index
    * (strict `<`, matching the reference's running-min,
    * KMapper.java:34-43). */
  def argminCentroid(p: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = sqdist(p, centroids(0))
    var i = 1
    while (i < centroids.length) {
      val d = sqdist(p, centroids(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Element-wise vector sum into `acc` (mutates acc). Partial-aggregate
    * building block — analog of `PointWritable.sum` (PointWritable.java:88-93). */
  def addInto(acc: Array[Double], v: Array[Float]): Unit = {
    var i = 0
    while (i < v.length) { acc(i) += v(i); i += 1 }
  }

  /** The one blocked argmin behind every assignment: the index of the
    * nearest of the `k` centroids of the flat k×dim codebook `cents` to
    * the row `x` (dim = `x.length`), picks bit-identical to
    * [[argminCentroid]].
    *
    * `x` and `cents` hold float coordinates widened exactly to double,
    * so `x(i) - cents(..)` is the very difference [[sqdist]] squares.
    * Four centroids run per pass over the row, each with its own
    * left-to-right double accumulator, so every distance is bit-equal
    * to [[sqdist]]'s; the picks then run the same strict-`<` running
    * min seeded from centroid 0 in index order — identical winners,
    * NaN and ±Inf included. */
  def argminSqDist(x: Array[Double], cents: Array[Double], k: Int): Int = {
    val dim = x.length
    val k4 = k - k % 4
    var best = 0
    var bestD = 0.0
    var c = 0
    while (c < k4) {
      val b0 = c * dim; val b1 = b0 + dim; val b2 = b1 + dim; val b3 = b2 + dim
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var i = 0
      while (i < dim) {
        val v = x(i)
        val d0 = v - cents(b0 + i); s0 += d0 * d0
        val d1 = v - cents(b1 + i); s1 += d1 * d1
        val d2 = v - cents(b2 + i); s2 += d2 * d2
        val d3 = v - cents(b3 + i); s3 += d3 * d3
        i += 1
      }
      if (c == 0) bestD = s0
      else if (s0 < bestD) { bestD = s0; best = c }
      if (s1 < bestD) { bestD = s1; best = c + 1 }
      if (s2 < bestD) { bestD = s2; best = c + 2 }
      if (s3 < bestD) { bestD = s3; best = c + 3 }
      c += 4
    }
    while (c < k) {
      val s = sqdistTo(x, cents, c)
      if (c == 0) bestD = s
      else if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Squared distance from the row `x` to centroid `c` of the flat
    * codebook `cents` — [[sqdist]]'s left-to-right double fold. */
  def sqdistTo(x: Array[Double], cents: Array[Double], c: Int): Double = {
    val dim = x.length
    val b = c * dim
    var s = 0.0
    var i = 0
    while (i < dim) { val d = x(i) - cents(b + i); s += d * d; i += 1 }
    s
  }

  /** Blocked Lloyd fold of one packed chunk — [[argminCentroid]] then
    * [[addInto]] for every row, through the [[argminSqDist]] kernel.
    *
    * `rows` is row-major n×dim floats; `cents` is the k×dim codebook as
    * one flat `double[]`. Each row is widened once into a `dim` scratch
    * and added into the winner's cells of the flat k×dim `sums` exactly
    * as [[addInto]] adds it. */
  def lloydFoldChunk(
      rows: Array[Float],
      dim: Int,
      cents: Array[Double],
      sums: Array[Double],
      cnts: Array[Long]): Unit = {
    val k = cnts.length
    val n = rows.length / dim
    val x = new Array[Double](dim)
    var r = 0
    while (r < n) {
      val o = r * dim
      var i = 0
      while (i < dim) { x(i) = rows(o + i); i += 1 }
      val best = argminSqDist(x, cents, k)
      val b = best * dim
      i = 0
      while (i < dim) { sums(b + i) += x(i); i += 1 }
      cnts(best) += 1
      r += 1
    }
  }

  /** Reads the `x.length` elements of an `array<float|double>` value
    * into `x`, widening floats exactly; false (with `x` partly
    * written) when an element is null. */
  def readRow(v: ArrayData, isFloat: Boolean, x: Array[Double]): Boolean = {
    val n = x.length
    var i = 0
    if (isFloat) while (i < n) {
      if (v.isNullAt(i)) return false
      x(i) = v.getFloat(i)
      i += 1
    }
    else while (i < n) {
      if (v.isNullAt(i)) return false
      x(i) = v.getDouble(i)
      i += 1
    }
    true
  }

  /** Squared distance from `v` to centroid `c` of the flat codebook
    * with null elements contributing 0 — the per-element
    * [[graft.functions.VecSqDist]] loop, for rows [[readRow]] rejects. */
  def sqdistNullable(
      v: ArrayData, isFloat: Boolean, cents: Array[Double], c: Int): Double = {
    val dim = v.numElements()
    val b = c * dim
    var s = 0.0
    var i = 0
    while (i < dim) {
      if (!v.isNullAt(i)) {
        val d = (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) -
          cents(b + i)
        s += d * d
      }
      i += 1
    }
    s
  }

  /** [[VecArgminSqDist]]'s per-row step (codegen and eval): the row is
    * read once into the caller's `x` scratch and handed to
    * [[argminSqDist]]; a row with a null element keeps the per-element
    * "null contributes 0" loop. The caller checks the dimension. */
  def argminRow(
      v: ArrayData, isFloat: Boolean, x: Array[Double],
      cents: Array[Double], k: Int): Int =
    if (readRow(v, isFloat, x)) argminSqDist(x, cents, k)
    else {
      var best = 0
      var bestD = sqdistNullable(v, isFloat, cents, 0)
      var c = 1
      while (c < k) {
        val s = sqdistNullable(v, isFloat, cents, c)
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    }

  /** Mean with the reference's 5-dp round-half-up on each coordinate
    * (`PointWritable.calcAverage`, PointWritable.java:106-112:
    * `Math.round(v*100000)/100000.0f`). */
  def meanRounded5(sums: Array[Double], n: Long): Array[Float] = {
    val out = new Array[Float](sums.length)
    var i = 0
    while (i < sums.length) {
      val mean = (sums(i) / n).toFloat // reference divides in float space
      out(i) = (Math.round(mean * 100000f) / 100000.0f)
      i += 1
    }
    out
  }

  // --------------------------------------------------------------- Column

  private def expr(c: Column) =
    org.apache.spark.sql.graftshim.expression(c)
  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graftshim.column(e)

  /** Codegen'd dot product of two array<float|double> columns, double
    * accumulation — the native [[VecDot]] expression (the `zip_with` +
    * `aggregate` HOF form is interpreted per element and ~100× slower). */
  def dotCol(a: Column, b: Column): Column = toCol(VecDot(expr(a), expr(b)))

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  def sqdistCol(a: Column, b: Column): Column =
    toCol(VecSqDist(expr(a), expr(b)))

  def euclideanCol(a: Column, b: Column): Column = sqrt(sqdistCol(a, b))

  def cosineCol(a: Column, b: Column): Column = {
    val d = dotCol(a, b)
    val n = normCol(a) * normCol(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** Float-array literal column (`array<float>`). */
  def vecLit(v: Array[Float]): Column = array(v.map(x => lit(x)): _*)

  /** J1 argmin-over-centroids: index of the nearest centroid, ties to
    * the LOWEST index (strict `<` running min seeded from centroid 0,
    * KMapper.java:34-43) — the native [[VecArgminSqDist]] expression,
    * which reads each row once into a per-task `double[]` scratch and
    * calls the blocked [[argminSqDist]] kernel the Lloyd fold uses, so
    * picks are bit-identical to [[argminCentroid]] and to `fit`'s. The
    * codebook rides in the plan as ONE flat `double[]` reference, so the
    * generated code is a dimension check plus one call at any k·dim: a
    * narrow map, no shuffle, no UDF, and several argmins can share one
    * projection (the PQ encoder). */
  def assignCol(features: Column, centroids: Array[Array[Float]]): Column =
    toCol(VecArgminSqDist(expr(features), centroids.map(_.toSeq).toSeq))
}
