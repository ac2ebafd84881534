package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Expression↔Column converters — the
  * standard extension-library pattern for plugging custom Catalyst
  * expressions (graft.functions.VecDot / VecSqDist) into the public
  * Column algebra on Spark 4's classic session.
  */
package object graftshim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Apply a `SparkSessionExtensions`' function injections to an
    * already-running session's `private[sql]` registry — the hook
    * [[graft.functions.GraftExtensions]] uses for live sessions
    * (builder-time `withExtensions` / `spark.sql.extensions` only
    * reach sessions created after configuration). */
  def applyFunctionInjections(
      spark: SparkSession, ext: SparkSessionExtensions): Unit =
    ext.registerFunctions(
      spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry)

  /** Unload every cached state-store provider (and close its files).
    *
    * Stopped streaming queries leave their providers — holding full
    * in-memory copies of the state maps — in the executor's global
    * registry until the background maintenance task gets around to
    * them (default sweep: 60 s). In a JVM that runs many short
    * verification streams back-to-back, those carcasses pile up and
    * the periodic maintenance snapshot pass burns cores mid-benchmark.
    * Only safe when no streaming query is running (a live query would
    * transparently reload from its checkpoint, at a latency cost). */
  def unloadAllStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()

  /** Eager `localCheckpoint` that KEEPS the executed plan's hash
    * partitioning visible to the next query.
    *
    * A plain checkpoint's `LogicalRDD` reports `UnknownPartitioning`
    * whenever the source ran under AQE (`AdaptiveSparkPlanExec`
    * cannot promise a partitioning before finalization, so it
    * inherits `SparkPlan`'s Unknown default and that is what
    * `LogicalRDD.fromDataset` captures) — so an iterative operator
    * that checkpoints a hash-partitioned table every round re-pays
    * the table's exchange every round. Here the checkpoint has
    * already executed (eager), the AQE plan IS final, and checkpoint
    * blocks preserve partition boundaries 1:1 — re-declaring the
    * final plan's own partitioning on the checkpoint's `LogicalRDD`
    * is therefore always truthful. Attributes are remapped
    * positionally from the physical output to the new logical output
    * (same schema by construction); anything unexpected falls back to
    * the plain checkpoint. */
  def localCheckpointPartitioned(df: Dataset[Row]): Dataset[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val ck = ds.localCheckpoint(true).asInstanceOf[classic.Dataset[Row]]
    val srcPlan = ds.queryExecution.executedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    (srcPlan.outputPartitioning, ck.queryExecution.analyzed) match {
      case (hp: catalyst.plans.physical.HashPartitioningLike,
            lr: execution.LogicalRDD)
          if srcPlan.output.size == lr.output.size =>
        val attrMap = catalyst.expressions.AttributeMap(
          srcPlan.output.zip(lr.output))
        var ok = true
        val remapped = hp.transformUp {
          case a: catalyst.expressions.Attribute =>
            attrMap.getOrElse(a, { ok = false; a })
        }.asInstanceOf[catalyst.plans.physical.Partitioning]
        if (!ok) ck
        else classic.Dataset.ofRows(ds.sparkSession,
          execution.LogicalRDD(
            lr.output, lr.rdd, remapped, lr.outputOrdering,
            lr.isStreaming, lr.stream)(
            ds.sparkSession, Some(lr.computeStats()), Some(lr.constraints)))
      case _ => ck
    }
  }

  /** Destroys `bc` and returns once its blocks are removed everywhere:
    * the public `destroy()` only asks for the removal, so a look at the
    * block manager right after can still find them. */
  def destroyBlocking(bc: org.apache.spark.broadcast.Broadcast[_]): Unit =
    bc.destroy(blocking = true)

  /** The row count of `df`'s own plan when it is cached in memory with
    * every cached batch built — reading it then decodes those batches
    * and computes nothing of the plan — by the cache's own statistic;
    * None otherwise. */
  def cachedRowCount(df: Dataset[_]): Option[Long] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(b => b.storageLevel.useMemory && b.isCachedColumnBuffersLoaded)
      .map(_.rowCountStats.value.longValue)
  }

  /** Force-compile every whole-stage-codegen subtree of `df`'s
    * executed plan, returning the compile-error messages (empty =
    * everything stays compiled). Production Spark falls back to
    * interpreted evaluation SILENTLY when janino rejects a stage
    * (e.g. a >64 KB method) — specs use this to pin that a hot
    * stage's generated code actually compiles. */
  def codegenCompileErrors(df: Dataset[_]): Seq[String] = {
    val plan = df.queryExecution.executedPlan
    plan.collect { case w: execution.WholeStageCodegenExec =>
      val (_, code) = w.doCodeGen()
      try {
        catalyst.expressions.codegen.CodeGenerator.compile(code)
        None
      } catch { case e: Exception =>
        Some(Option(e.getMessage).getOrElse(e.toString).take(300))
      }
    }.flatten
  }
}
