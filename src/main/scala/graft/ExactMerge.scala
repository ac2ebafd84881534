package graft

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD

/** The one merge of exact per-partition partials (the reference's
  * KCombiner → KReducer split): the K-Means fit's per-slice
  * (sum, count) cells and the graph driver twins' dense per-partition
  * partials. Every partial is exact and `mergeAll` associative and
  * commutative, so the merge's shape cannot move a bit. */
private[graft] object ExactMerge {

  /** Partition count above which the merge runs as a 2-level
    * `treeReduce`: executors pre-merge, and the driver receives about
    * √P partials instead of P. Below it the extra stage costs more
    * than the driver ingress it saves. */
  val TreeAbove = 1024

  /** Merges one partial per partition of `partials`: a driver
    * `collect` fold at or below `treeAbove` partitions, a 2-level
    * `treeReduce` above. `mergeAll` merges any batch of partials —
    * all of them in one driver call, or pairs inside the tree — and
    * must accept an empty batch (an RDD can have no partitions). */
  def merge[P: ClassTag](partials: RDD[P], treeAbove: Int = TreeAbove)(
      mergeAll: Seq[P] => P): P =
    if (partials.getNumPartitions > treeAbove)
      partials.treeReduce((a, b) => mergeAll(Seq(a, b)), depth = 2)
    else mergeAll(partials.collect().toSeq)
}
