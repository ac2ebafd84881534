package graft.kmeans

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.functions.VectorFunctions

/** Aggregation buffer: element-wise sums + row count — the Spark analog of
  * `PointWritable`'s piggybacked (attributes, nPoints) partial-aggregate
  * state (PointWritable.java:9-12, sum() :88-93). */
final case class VecBuf(sums: Array[Double], n: Long)

/** U1 (SURVEY §2.9): typed `Aggregator` reproducing the reference's
  * Combiner + Reducer pair (KCombiner.java:9-18, KReducer.java:12-26) on
  * Spark's partial/final aggregation machinery:
  *
  *   - `reduce`  = the combiner's per-record accumulate (map-side partial)
  *   - `merge`   = the reducer's sum-of-partials
  *   - `finish`  = `calcAverage`: float mean, 5-dp round-half-up per
  *                 coordinate (PointWritable.java:106-112)
  *
  * The declarative `groupBy().agg(sum(element_at(...)))` form (the
  * engine's single-step operator, q07) is the codegen-friendly twin;
  * tests assert both agree. [[KMeans.fit]] uses neither: it picks and adds
  * packed chunks with `GuessArgmin.assignChunk` / `VectorFunctions.addChunk`.
  */
final class VectorMeanAggregator(dim: Int)
    extends Aggregator[Array[Float], VecBuf, Array[Float]] {

  override def zero: VecBuf = VecBuf(new Array[Double](dim), 0L)

  override def reduce(b: VecBuf, a: Array[Float]): VecBuf = {
    VectorFunctions.addInto(b.sums, a)
    VecBuf(b.sums, b.n + 1)
  }

  override def merge(b1: VecBuf, b2: VecBuf): VecBuf = {
    var i = 0
    while (i < dim) { b1.sums(i) += b2.sums(i); i += 1 }
    VecBuf(b1.sums, b1.n + b2.n)
  }

  override def finish(b: VecBuf): Array[Float] =
    VectorFunctions.meanRounded5(b.sums, b.n)

  override def bufferEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]

  override def outputEncoder: Encoder[Array[Float]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()
}
