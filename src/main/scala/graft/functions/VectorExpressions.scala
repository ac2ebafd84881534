package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd vector kernels over `array<float|double>` columns.
  *
  * The `zip_with`/`aggregate` higher-order-function formulation of dot
  * product and squared distance is evaluated interpreted, one lambda
  * call per element, and allocates an intermediate array per row —
  * measured ~100× slower than compiled code on 64-dim embeddings.
  * These expressions generate the tight Java loop whole-stage codegen
  * splices inline (preference (b) of the extension hierarchy: a custom
  * `Expression` with `doGenCode` beats a UDF, which beats interpreted
  * HOFs).
  *
  * Semantics (shared by eval and codegen, bit-identical to the HOF
  * form on non-null data: same index order, double accumulation):
  *   - null array on either side → null result;
  *   - length mismatch → IllegalArgumentException (the reference would
  *     silently mis-distance, SURVEY §1.3 — we fail loudly);
  *   - null elements contribute 0 to the accumulation.
  */
abstract class VecBinaryFold extends BinaryExpression {

  override def dataType: DataType = DoubleType

  /** java source for one accumulation step given element expressions */
  protected def stepJava(av: String, bv: String): String

  /** scala accumulation step */
  protected def stepScala(a: Double, b: Double): Double

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val n = aa.numElements()
    if (n != bb.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: dim mismatch ${n} vs ${bb.numElements()}")
    val at = elemType(left); val bt = elemType(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!aa.isNullAt(i) && !bb.isNullAt(i)) {
        val av = if (at == FloatType) aa.getFloat(i).toDouble else aa.getDouble(i)
        val bv = if (bt == FloatType) bb.getFloat(i).toDouble else bb.getDouble(i)
        s += stepScala(av, bv)
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val aGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      val bGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val av = ctx.freshName("av")
      val bv = ctx.freshName("bv")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: dim mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $av = (double) $a.$aGet($i);
         |    double $bv = (double) $b.$bGet($i);
         |    $s += ${stepJava(av, bv)};
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}

/** Σᵢ aᵢ·bᵢ in double — the ANN/similarity kernel. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryFold {
  override def prettyName: String = "vec_dot"
  override protected def stepJava(av: String, bv: String): String = s"$av * $bv"
  override protected def stepScala(a: Double, b: Double): Double = a * b
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Σᵢ (aᵢ−bᵢ)² in double — the clustering distance kernel
  * (`PointWritable.calcDistance` without the sqrt,
  * Code/KmeanMapReduce/src/PointWritable.java:95-104). */
case class VecSqDist(left: Expression, right: Expression) extends VecBinaryFold {
  override def prettyName: String = "vec_sqdist"
  override protected def stepJava(av: String, bv: String): String =
    s"($av - $bv) * ($av - $bv)"
  override protected def stepScala(a: Double, b: Double): Double = (a - b) * (a - b)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSqDist =
    copy(left = newLeft, right = newRight)
}

/** Earliest-wins argmin of squared distance against a LITERAL float
  * codebook: `argmin_c Σᵢ (vᵢ − codebook(c)(i))²`, strict `<` running
  * min (ties → lowest index — KMapper.java:39 semantics, identical to
  * the `argminCentroid` Scala kernel: same per-centroid left-to-right
  * double fold, null elements contribute 0, dim mismatch throws). The
  * one argmin behind [[graft.functions.VectorFunctions.assignCol]].
  *
  * Each row is read ONCE into the `double[]` scratch of a per-task
  * [[graft.functions.GuessArgmin]] (a codegen mutable state — one
  * `isNullAt`/`get` per element instead of one per element per
  * centroid; an unsafe array without nulls is read at fixed offsets).
  * The codebook's cell table ([[graft.functions.CellTable]]) gives the
  * guess in O(1); when the half-gap test
  * ([[graft.functions.VectorFunctions.halfGapHit]]) proves it, it is
  * the pick, and otherwise the row runs the static
  * blocked scan [[graft.functions.VectorFunctions.argminSqDist]] that
  * `KMeans.fit`'s Lloyd fold also runs, over the codebook flattened
  * once into a k×dim `double[]`. Either way the pick is the scan's. A
  * row with a null element keeps the per-element "null contributes 0"
  * loop ([[graft.functions.VectorFunctions.argminRow]]).
  *
  * Why an expression and not a chain of [[VecSqDist]] comparisons:
  * a chain inlines each distance's generated code O(k²) times into
  * ONE whole-stage method (expressions over codegen locals cannot be
  * split into sub-methods), which overran janino's 64 KB limit when
  * the PQ encoder put m+1 chains in one projection. Here the codebook,
  * its radii and its cell table, each computed once per codebook on
  * the driver, ride along as three `references[]` objects and the
  * generated code is a dimension check plus one call regardless of
  * k·dim. */
case class VecArgminSqDist(
    child: Expression,
    codebook: Seq[Seq[Float]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(codebook.nonEmpty, "vec_argmin_sqdist: empty codebook")

  override def prettyName: String = "vec_argmin_sqdist"
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> input, got ${other.sql}")
  }

  private def k: Int = codebook.length
  private def dim: Int = codebook.head.length

  /** The codebook as one flat k×dim `double[]` (exact float widening). */
  @transient private lazy val cents: Array[Double] =
    codebook.iterator.flatMap(_.iterator.map(_.toDouble)).toArray

  /** The codebook's half-gap radii, once per codebook (null: shortcut
    * off). */
  @transient private lazy val radii: Array[Double] =
    graft.functions.VectorFunctions.halfGapRadii(cents, k)

  /** The codebook's first-guess cell table, once per codebook (null:
    * the shortcut off, or dim 1). */
  @transient private lazy val cells: CellTable =
    graft.functions.VectorFunctions.cellTable(cents, k, radii)

  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val vv = v.asInstanceOf[ArrayData]
    if (vv.numElements() != dim)
      throw new IllegalArgumentException(
        s"$prettyName: dim mismatch ${vv.numElements()} vs $dim")
    // Seeded from centroid 0 like [[VectorFunctions.argminCentroid]]
    // (not best=-1/+∞): an all-NaN distance row then yields 0, a valid
    // index, instead of -1 leaking into PQ codes or cluster labels.
    // (A NULL input array still yields NULL via nullSafeEval.)
    graft.functions.VectorFunctions.argminRow(
      vv, isFloat, new GuessArgmin(cents, k, radii, cells))
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val centsRef = ctx.addReferenceObj("graftCodebook", cents, "double[]")
      val radiiRef = ctx.addReferenceObj("graftRadii", radii, "double[]")
      val cellsRef = ctx.addReferenceObj("graftCells", cells,
        classOf[CellTable].getName)
      val am = ctx.addMutableState(classOf[GuessArgmin].getName, "graftArgmin",
        r => s"$r = new ${classOf[GuessArgmin].getName}(" +
          s"$centsRef, $k, $radiiRef, $cellsRef);")
      s"""
         |if ($v.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: dim mismatch " + $v.numElements() + " vs $dim");
         |}
         |${ev.value} = graft.functions.VectorFunctions.argminRow(
         |  $v, $isFloat, $am);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): VecArgminSqDist = copy(child = newChild)
}
