package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Structured-Streaming surface: windowed aggregation over the `events`
  * table driven as a file stream (the reference is batch-only — this is
  * part of the beyond-reference pipeline surface).
  *
  * For verification the stream is run synchronously to completion over
  * the static parquet (memory sink + processAllAvailable) — the same
  * plan that, pointed at a real unbounded source with a watermark,
  * runs incrementally with state cleanup.
  */
object EventWindows {

  private val counter = new AtomicInteger(0)

  /** Run a streaming frame synchronously to a memory table, collapse
    * the sink to a driver-local relation, and drop the sink table.
    *
    * The frame is built against an isolated session clone
    * (`spark.newSession()`: shared SparkContext and cache, own SQLConf
    * and temp-view catalog), for two reasons:
    *   - pinning the stateful-operator partition count never mutates
    *     the caller's shuffle-partitions conf (concurrent batch queries
    *     on the shared session would otherwise be planned with it);
    *   - the memory-sink table cannot leak: it lives in the clone's
    *     catalog and is dropped here after collection. (Before this,
    *     one never-dropped `graft_stream_N` table per streaming call
    *     accumulated in a long-lived bench JVM — 18 tables/pass — and
    *     contaminated every query timed after the streaming block.)
    *
    * `statePartitions` sizes the state-store count: every state
    * partition is a store instance with per-trigger open/commit cost,
    * so the count should track key cardinality and core count. An
    * unbounded deployment sizes it up; it is fixed at the first
    * trigger either way, which is why it is an explicit knob here.
    *
    * The returned local relation holds at most one row per changed key
    * per trigger (the update log); callers collapse it with a batch
    * aggregation. */
  private def runToMemory(
      spark: SparkSession,
      mode: String,
      statePartitions: Int,
      noDataBatch: Boolean = true)(
      frame: SparkSession => DataFrame): DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    // UPDATE-mode aggregates emit on data batches only: the trailing
    // no-data micro-batch (watermark advance) exists to EVICT state and
    // to let APPEND-mode operators emit finalized results. Callers that
    // pass noDataBatch=false (update-mode only — measured sink output
    // of that batch is 0 rows) skip it: ~1-2 s of eviction + 16-store
    // commit per line at sf0.1 for a query that stops right after.
    // Append-mode callers MUST leave it on (final windows, outer-join
    // nulls, and GWS event-time timers all fire there).
    if (!noDataBatch)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // These runs are synchronous verification passes, so the checkpoint
    // (offset log + state-store deltas — rewritten wholesale every
    // trigger by the HDFS-backed provider) is throwaway; keep it on
    // tmpfs when available instead of paying disk fsync for durability
    // nobody reads. A real deployment puts the checkpoint on a DFS and
    // sizes its commit budget accordingly.
    val ckptBase = java.nio.file.Paths.get("/dev/shm")
    val ckpt =
      if (java.nio.file.Files.isDirectory(ckptBase))
        Some(java.nio.file.Files
          .createTempDirectory(ckptBase, "graft_ckpt_"))
      else None
    val writer = frame(s).writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
    ckpt.foreach(p => writer.option("checkpointLocation", p.toString))
    val q = writer.start()
    try q.processAllAvailable()
    finally {
      // stop() can throw (e.g. the stream already died) — provider
      // eviction and the tmpfs delete must still run, or state maps
      // and /dev/shm checkpoints (RAM!) accumulate across a long JVM
      try q.stop()
      finally {
        // evict this query's state-store providers from the JVM-global
        // cache NOW (no stream is running — these synchronous runs
        // never overlap) instead of leaving ~MBs of state maps per
        // query for the 60s maintenance sweep to snapshot mid-benchmark
        org.apache.spark.sql.graftshim.unloadAllStateStores()
        ckpt.foreach { p =>
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          val walk = Files.walk(p)
          try walk.sorted(Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
          finally walk.close()
        }
      }
    }
    val sunk = s.table(name)
    val rows = sunk.collectAsList()
    val schema = sunk.schema
    s.catalog.dropTempView(name)
    spark.createDataFrame(rows, schema)
  }

  /** Tumbling-window aggregate per event_type: row count and value sum.
    * Window = 1 hour aligned to the epoch (matches `date_trunc('hour')`).
    * Sum goes through decimal so it is exact/associative — deterministic
    * under any merge order of streaming state. */
  /** File-stream source over the events table: the sf dir is the stream
    * directory (FileStreamSource requires a directory, not a file) with a
    * glob filter selecting the events parquet. `maxFilesPerTrigger > 0`
    * caps files per micro-batch — the lever multi-batch tests use to
    * force incremental ingestion over a bounded directory. */
  private def eventsStream(
      spark: SparkSession,
      dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val schema =
      spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    val limited =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    graft.sources.Tables.normalizeTs(limited.parquet(dir), Seq("ts"))
  }

  def hourlyByType(
      spark: SparkSession,
      dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    // update mode + watermark: window state older than (max event time −
    // 2h) is evicted each trigger — the unbounded-deployment shape
    // (complete mode would ignore the watermark and hold every window
    // forever). The memory sink collects the update log; the row with
    // the highest n_events per key is the LATEST update (the count is
    // strictly increasing across updates), so the struct-max collapse
    // returns each window's final (count, sum) pair for every row that
    // was ingested — under ANY batch split (EventWindowsMultiBatchSpec
    // proves collapse ≡ batch across forced multi-batch ingestion).
    // Equivalence with the batch DuckDB oracle additionally assumes
    // ingestion drops nothing: a row whose WINDOW END the previous
    // trigger's watermark has passed is discarded on ingest (by
    // design — the same spec proves the drop; note Spark 3.4+ filters
    // late events with the previous trigger's watermark and evicts
    // state with the current one), and the batch oracle would still
    // count it — exactness holds for in-order or late-data-free
    // input, which the verification run's single batch is.
    runToMemory(spark, "update", statePartitions = 8,
        noDataBatch = false) { s =>
      eventsStream(s, dir, glob, maxFilesPerTrigger)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
    }
      .groupBy(unix_timestamp(col("w.start")).as("hour_epoch"),
        col("event_type"))
      .agg(max(struct(col("n_events"), col("sum_value"))).as("last"))
      .select(col("hour_epoch"), col("event_type"),
        col("last.n_events").as("n_events"),
        col("last.sum_value").as("sum_value"))
  }

  /** Stateful sessionization via `flatMapGroupsWithState`: split each
    * user's event stream into sessions separated by > `gapMinutes` of
    * event-time silence, emitting (user_id, session start/end epoch,
    * n_events).
    *
    * On this bounded file stream all events arrive in one batch, so the
    * group function sorts its events and emits every session including
    * the final one (state is only needed across batches). On an
    * unbounded stream the open session would stay in `GroupState` with
    * an event-time timeout; the emitted closed-session semantics are
    * identical — which is what the SQL oracle (lag/cumsum windowing in
    * DuckDB) checks.
    */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMicros = gapMinutes.toLong * 60L * 1000000L

    def splitSessions(
        userId: Long,
        rows: Iterator[(Long, Long)],
        state: GroupState[Long]): Iterator[(Long, Long, Long, Long)] = {
      val ts = rows.map(_._2).toArray
      java.util.Arrays.sort(ts)
      if (ts.isEmpty) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var start = ts(0); var prev = ts(0); var n = 1L
        var i = 1
        while (i < ts.length) {
          if (ts(i) - prev > gapMicros) {
            out += ((userId, start, prev, n))
            start = ts(i); n = 0L
          }
          prev = ts(i); n += 1
          i += 1
        }
        out += ((userId, start, prev, n))
        out.iterator
      }
    }

    runToMemory(spark, "append", statePartitions = 16) { s =>
      eventsStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tsu"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout)(splitSessions)
        .toDF("user_id", "start_us", "end_us", "n_events")
    }
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
  }

  /** Two-file stream directory for [[sessionizeNative]]: the events
    * table rewritten as file 1, plus a single far-future sentinel row
    * (user −1) as file 2 with a later mtime. With
    * `maxFilesPerTrigger = 1` the sentinel arrives in its own batch
    * and advances the watermark past every real session's close, so
    * append mode flushes them all — the bounded-input analog of a
    * production stream where later traffic closes earlier sessions.
    * Built once per (JVM, sf dir, gap), the fixture-cache precedent. */
  private val sessionStreamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write `df` as the single parquet file `base/name` with a fixed,
    * strictly-increasing PAST mtime keyed by `seq` — the proven
    * EventWindowsMultiBatchSpec device: FileStreamSource ingests in
    * mtime order and future-dated files are not reliably listed. */
  private def writeOrderedFile(
      base: String, df: DataFrame, name: String, seq: Int): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val target = Paths.get(base)
    Files.createDirectories(target)
    val stage = s"$base/_stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = {
      val l = Files.list(Paths.get(stage))
      try l.filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      finally l.close()
    }
    val dest = target.resolve(name)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(
        1700000000000L + seq * 60000L))
  }

  private def sessionStreamDir(
      spark: SparkSession, dir: String, gapMinutes: Int): String =
    sessionStreamDirs.computeIfAbsent(s"$dir#$gapMinutes", _ => {
      val base = graft.TempCleanup.register(sys.props("java.io.tmpdir") +
        s"/graft_sessstream_${ProcessHandle.current().pid()}_" +
        Integer.toHexString(s"$dir#$gapMinutes".hashCode))
      val ev = graft.sources.Tables(spark, dir, "events")
      writeOrderedFile(base, ev, "a_events.parquet", 0)
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val flushUs = maxUs + (gapMinutes + 120L) * 60L * 1000000L
      // TWO sentinel batches: emission in batch N uses the watermark
      // committed after batch N−1, so the first sentinel's watermark
      // (past every real close) takes effect in the second sentinel's
      // batch — without relying on a trailing no-data micro-batch
      // racing processAllAvailable
      writeOrderedFile(base, ev.limit(1)
        .withColumn("user_id", lit(-1L))
        .withColumn("ts", timestamp_micros(lit(flushUs))),
        "b_flush.parquet", 1)
      writeOrderedFile(base, ev.limit(1)
        .withColumn("user_id", lit(-1L))
        .withColumn("ts", timestamp_micros(lit(flushUs + 7200L * 1000000L))),
        "c_flush2.parquet", 2)
      base
    })

  /** Streaming sessionization on Spark's NATIVE `session_window`
    * aggregation — the declarative twin of [[sessionize]]'s
    * `flatMapGroupsWithState` form, completing the sessionization
    * family (batch window-form q105, batch native q108, streaming
    * custom q21, streaming native this): no custom state function,
    * Spark's UpdatingSessions/MergingSessions operators keep ONE open
    * session per key and merge on arrival; the watermark both bounds
    * state and drives emission (append mode — the only mode streaming
    * session aggregation supports), so a session emits exactly once,
    * after the watermark passes its close. The inclusive-merge
    * boundary matches the split-strictly-past-the-gap rule, so the
    * family answers to one oracle (TimeSeries.sessionizeNative
    * documents the edge).
    *
    * The bounded verification input is delivered via
    * [[sessionStreamDir]]'s sentinel-flush device; the sentinel user's
    * own (never-flushed) session is filtered out below. */
  def sessionizeNative(
      spark: SparkSession,
      dir: String,
      gapMinutes: Int): DataFrame = {
    val sdir = sessionStreamDir(spark, dir, gapMinutes)
    // the sentinel filter must NOT be part of the streaming frame: a
    // predicate on a grouping column pushes through the aggregate and
    // the watermark into the SCAN, which would strip the sentinel rows
    // before they ever advance the watermark (observed: the last
    // gap+delay of real sessions then never flush) — so it runs on the
    // collected batch result instead
    runToMemory(spark, "append", statePartitions = 16) { s =>
      eventsStream(s, sdir, glob = "*.parquet", maxFilesPerTrigger = 1)
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"),
          session_window(col("ts"), s"$gapMinutes minutes"))
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"))
    }.where(col("user_id") >= 0L)
  }

  /** Streaming model scoring (SURVEY §7.5: streaming J1 against a
    * broadcast model): the embeddings table driven as a file stream,
    * every arriving vector labeled with its nearest centroid via the
    * native argmin (`assignCol`) — a pure narrow map on the stream, no
    * state — then a running per-cluster count (update mode; the tiny
    * k-row state needs no watermark to stay bounded). This is the
    * deployment shape for scoring an unbounded feed against a fitted
    * model: the model is a plan constant, re-deployed by restarting the
    * query with new centroids. */
  def streamAssignCounts(
      spark: SparkSession,
      dir: String,
      centroids: Array[Array[Float]]): DataFrame = {
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    runToMemory(spark, "update", statePartitions = 4,
        noDataBatch = false) { s =>
      s.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
        .select(graft.functions.VectorFunctions
          .assignCol(col("embedding"), centroids).as("cluster"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"))
    }
      .groupBy(col("cluster"))
      .agg(max(col("n")).as("n")) // count is monotone; max = final value
  }

  /** Stream-static enrichment join: the events stream joined to the
    * static customer dimension (Spark broadcasts the static side per
    * micro-batch — no stream state at all for this join type), then a
    * per-nation running aggregate. The deployment shape for enriching
    * an unbounded feed with slowly-changing dimensions. */
  def streamEnrichByNation(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, "update", statePartitions = 8,
        noDataBatch = false) { s =>
      val customers = graft.sources.Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      eventsStream(s, dir)
        .join(customers, col("user_id") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
    }
      .groupBy(col("c_nationkey"))
      .agg(max(struct(col("n_events"), col("sum_value"))).as("last"))
      .select(col("c_nationkey"),
        col("last.n_events").as("n_events"),
        col("last.sum_value").as("sum_value"))
  }

  /** Streaming exact dedup at ingest: `dropDuplicates` on the 64-bit
    * text fingerprint over the documents feed — the state store keeps
    * one 8-byte key per distinct document, the streaming analog of the
    * batch exact-dedup shuffle (q09). Emits the surviving distinct
    * count per fingerprint-shard so the result is order-independent
    * (which rows survive is first-arrival nondeterminism; how many is
    * exact). */
  def streamDedupCount(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    runToMemory(spark, "update", statePartitions = 8,
        noDataBatch = false) { s =>
      // state key = 8-byte fingerprint; the reported shard is a
      // text-derived bucket (length mod 16) so the oracle can recompute
      // it engine-independently (DuckDB has no xxhash64). The oracle
      // counts DISTINCT text — matching rests on the standard 64-bit
      // collision assumption (P ≈ n²/2⁶⁵; two distinct documents
      // colliding would undercount a shard). That is the same trade the
      // batch dedup shuffle (q09's keyed exchange) makes deliberately:
      // 8-byte state keys instead of full documents.
      s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(xxhash64(col("text")).as("fp"),
          pmod(length(col("text")), lit(16)).as("shard"))
        .dropDuplicates("fp")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_distinct"))
    }
      .groupBy(col("shard"))
      .agg(max(col("n_distinct")).as("n_distinct"))
  }

  /** Bounded-state streaming dedup — the deployment counterpart of
    * [[streamDedupCount]], whose global `dropDuplicates` state grows
    * with key cardinality FOREVER (at 100 TB of documents that state
    * is itself the corpus's fingerprint set: an OOM, not an operator).
    * `dropDuplicatesWithinWatermark` keeps a key's state only while
    * the watermark says a duplicate could still arrive; once the
    * watermark passes (event time + delay) the key is evicted and its
    * state reclaimed — steady-state size is the key count of one
    * watermark horizon, not of the stream's lifetime.
    *
    * The trade is horizon-scoped dedup: a duplicate arriving after its
    * key's eviction is re-emitted (EventWindowsMultiBatchSpec proves
    * both directions — within-horizon duplicates dropped, post-
    * eviction re-emit — under forced multi-batch ingestion). That is
    * the correct production contract for append-only ingest pipelines,
    * where duplicates come from retries/replays that cluster within
    * minutes, not from genuinely re-sent year-old rows.
    *
    * Append mode: each kept row is emitted exactly once, so the
    * returned frame needs no update-log collapse. */
  def dedupWithinWatermark(
      spark: SparkSession,
      dir: String,
      keyCols: Seq[String],
      delay: String = "1 hour",
      glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame =
    runToMemory(spark, "append", statePartitions = 4) { s =>
      eventsStream(s, dir, glob, maxFilesPerTrigger)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(keyCols)
    }

  /** Per-user hourly windowed counts with a watermark — in **update**
    * output mode, where the watermark actually governs state: windows
    * older than (max event time − 2h) are finalized and their state
    * evicted each trigger, which is the unbounded-deployment path
    * (complete mode would silently ignore the watermark and retain all
    * window state forever).
    *
    * The memory sink in update mode receives one row per window-key per
    * trigger that changed it; the per-key count is monotonically
    * non-decreasing, so `max` collapses the update log to each window's
    * final value (a single-batch run emits each key exactly once). */
  def hourlyPerUser(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, "update", statePartitions = 16,
        noDataBatch = false) { s =>
      eventsStream(s, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
    }
      .groupBy(unix_timestamp(col("w.start")).as("hour_epoch"),
        col("user_id"))
      .agg(max(col("n_events")).as("n_events"))
  }

  /** Watermarked stream-stream inner join — the attribution shape:
    * every click event paired with the purchase events of the same
    * user within the `windowMinutes` after it.
    *
    * Both sides carry event-time watermarks and the join condition
    * bounds `p_ts` to a window of `c_ts`, so Spark derives a state
    * eviction bound for each side (a buffered click is droppable once
    * the purchase-side watermark passes `c_ts + window`; a buffered
    * purchase once the click-side watermark passes `p_ts`) — join
    * state is bounded on an unbounded feed, which is what makes this
    * the deployment shape rather than a batch join in disguise.
    * Append is the only output mode stream-stream joins support;
    * inner-join matches are final on emission, so the memory sink
    * holds each matched pair exactly once and the per-user count
    * collapse is a plain batch aggregation over it. Oracle equivalence
    * has the usual caveat: rows arriving later than the watermark
    * bound would be dropped on ingest (single-batch verification input
    * has none). */
  def streamClickPurchase(
      spark: SparkSession,
      dir: String,
      windowMinutes: Int): DataFrame = {
    // 8 state partitions: the symmetric hash join keeps FOUR store
    // instances per partition (left/right × keyToNumValues/
    // keyWithIndexToValue), so the per-store fixed open/commit cost
    // multiplies fast — 32 partitions (128 stores) measured 2.3×
    // SLOWER than 8 (32 stores) at this state volume; scale up with
    // actual buffered-row volume, not core count
    runToMemory(spark, "append", statePartitions = 8) { s =>
      val clicks = eventsStream(s, dir)
        .where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val purchases = eventsStream(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") < col("c_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
    }
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Stream dir for [[streamClickPurchaseOuter]]: the events parquet
    * followed by TWO sentinel-flush batches, each carrying one click
    * AND one purchase row (user −1) far past every real click's
    * outer-emission deadline. Outer rows only emit once the watermark
    * passes `c_ts + window`, and the query watermark is the MIN over
    * both inputs — each input computes its watermark AFTER its
    * event-type filter, so a click-only sentinel would leave the
    * purchase side's watermark at the real max and stall the global
    * one. Two batches for the committed-watermark lag, the
    * [[sessionStreamDir]] device. */
  private val joinStreamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def joinStreamDir(
      spark: SparkSession, dir: String, windowMinutes: Int): String =
    joinStreamDirs.computeIfAbsent(s"$dir#$windowMinutes", _ => {
      val base = graft.TempCleanup.register(sys.props("java.io.tmpdir") +
        s"/graft_joinstream_${ProcessHandle.current().pid()}_" +
        Integer.toHexString(s"$dir#$windowMinutes".hashCode))
      val ev = graft.sources.Tables(spark, dir, "events")
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      // deadline for the latest possible click is maxUs + window; the
      // watermark delay is 2 h; +60 min slack keeps emission strictly
      // past every deadline (no boundary-semantics reliance)
      val flushUs = maxUs + (120L + windowMinutes + 60L) * 60L * 1000000L
      def sentinels(us: Long): DataFrame = {
        val one = ev.limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", timestamp_micros(lit(us)))
        one.withColumn("event_type", lit("click"))
          .union(one.withColumn("event_type", lit("purchase")))
      }
      writeOrderedFile(base, ev, "a_events.parquet", 0)
      writeOrderedFile(base, sentinels(flushUs),
        "b_flush.parquet", 1)
      writeOrderedFile(base,
        sentinels(flushUs + 7200L * 1000000L), "c_flush2.parquet", 2)
      base
    })

  /** LEFT OUTER watermarked stream-stream join — the attribution shape
    * [[streamClickPurchase]] cannot give: every click emits, matched
    * ones with their purchase immediately, UNMATCHED ones with nulls
    * exactly once, after the watermark passes their match window (the
    * state-eviction deadline doubles as the no-match verdict — the
    * "abandoned funnel" feed). State on both sides stays bounded by
    * the same watermark + time-range condition as the inner form.
    *
    * The bounded verification input is closed by [[joinStreamDir]]'s
    * two-sided sentinel device (the watermark is the min across BOTH
    * filtered inputs); sentinel rows are filtered from the collected
    * result, never from the streaming frame (the q112 rule: a
    * predicate on the stream would push into the scan and strip the
    * watermark-driving rows). Collapsed to per-user (clicks, matched
    * pairs, unmatched clicks); single-batch real data, so the result
    * equals the batch LEFT JOIN exactly. */
  def streamClickPurchaseOuter(
      spark: SparkSession,
      dir: String,
      windowMinutes: Int): DataFrame = {
    val sdir = joinStreamDir(spark, dir, windowMinutes)
    runToMemory(spark, "append", statePartitions = 8) { s =>
      val clicks =
        eventsStream(s, sdir, glob = "*.parquet", maxFilesPerTrigger = 1)
          .where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
      val purchases =
        eventsStream(s, sdir, glob = "*.parquet", maxFilesPerTrigger = 1)
          .where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
      clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") < col("c_ts") +
            expr(s"INTERVAL $windowMinutes MINUTES"),
        "left_outer")
    }
      .where(col("c_user") >= 0L)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_ts")).as("n_matched"),
        sum(when(col("p_ts").isNull, 1L).otherwise(0L)).as("n_unmatched"))
  }

  /** Stream dir for [[streamUpsertMaterialize]]: the events table
    * split into three files by `event_id mod 3`, fixed increasing
    * mtimes — keys deliberately CROSS batches and arrive out of
    * event-time order, so the merge discipline (not arrival order) is
    * what the oracle equality proves. */
  private val upsertStreamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def upsertStreamDir(spark: SparkSession, dir: String): String =
    upsertStreamDirs.computeIfAbsent(dir, _ => {
      val base = graft.TempCleanup.register(sys.props("java.io.tmpdir") +
        s"/graft_upsstream_${ProcessHandle.current().pid()}_" +
        Integer.toHexString(dir.hashCode))
      val ev = graft.sources.Tables(spark, dir, "events")
      (0 until 3).foreach { i =>
        writeOrderedFile(base, ev.where(col("event_id") % 3 === i),
          s"part$i.parquet", i)
      }
      base
    })

  /** Streaming CDC materialization — q61's latest-per-key as a STREAM:
    * each micro-batch is folded into a persisted parquet snapshot
    * inside `foreachBatch` (read current state → merge → write staged
    * → swap), the deployment shape of an incrementally-refreshed
    * serving table. Latest-wins is the `max(struct(ts, event_id, …))`
    * device — associative and order-independent — so out-of-order
    * batch splits (ours is an id-hash split, not a time split)
    * converge to the exact batch answer, and re-running over already-
    * merged data is a no-op (idempotent, the exactly-once story under
    * foreachBatch's at-least-once contract). The stream itself is
    * stateless: all state lives in the snapshot artifact.
    *
    * Returns the final snapshot as (user_id, ts_us, event_id,
    * event_type, value). */
  def streamUpsertMaterialize(spark: SparkSession, dir: String): DataFrame = {
    val sdir = upsertStreamDir(spark, dir)
    val stateBase = graft.TempCleanup.register(sys.props("java.io.tmpdir") +
      s"/graft_upsstate_${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode))
    val statePath = s"$stateBase/state"
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(stateBase), true)
    val s = spark.newSession()
    val schema =
      s.read.option("pathGlobFilter", "*.parquet").parquet(sdir).schema
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft_ups_ckpt_")
    def mergeBatch(
        batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long): Unit = {
      val bLatest = batch.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("last"))
      val statePq = new org.apache.hadoop.fs.Path(statePath)
      val merged =
        if (!hfs.exists(statePq)) bLatest
        else s.read.parquet(statePath).unionByName(bLatest)
          .groupBy(col("user_id")).agg(max(col("last")).as("last"))
      val stage = s"$stateBase/_stage"
      merged.write.mode("overwrite").parquet(stage)
      hfs.delete(statePq, true)
      require(hfs.rename(new org.apache.hadoop.fs.Path(stage), statePq),
        "state swap rename failed")
    }
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", 1).parquet(sdir)
      .writeStream
      .foreachBatch(mergeBatch _)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable()
    finally {
      try q.stop()
      finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        val walk = Files.walk(ckpt)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    }
    spark.read.parquet(statePath)
      .select(col("user_id"), unix_micros(col("last.ts")).as("ts_us"),
        col("last.event_id").as("event_id"),
        col("last.event_type").as("event_type"),
        col("last.value").as("value"))
  }

  /** Streaming twin of [[graft.operators.TimeSeries.ewma]]: the same
    * exact-decimal recurrence (6-dp input quantization, 9-dp HALF_UP
    * state, α at its shortest decimal representation) kept alive
    * across micro-batches in `GroupState` — the online smoothing
    * monitor as an actual stream job. Within a batch each user's rows
    * are sorted by (event time, id); across batches the state carries
    * the running decimal (stored as its scale-9 unscaled long —
    * |ewma| < 9.2e9, far above any monitored rate), so batch
    * boundaries that respect event-time order reproduce the batch
    * operator row-for-row (EwmaStreamSpec forces a 3-batch split and
    * proves it). An EWMA row is final the moment it is computed —
    * later events never revise it — so Append mode is exact and the
    * memory sink holds each event exactly once. Oracle equivalence
    * has the usual single-batch caveat for out-of-order feeds.
    *
    * Returns (user_id, event_id, ewma) ordered by (user_id,
    * event_id). */
  def streamEwma(
      spark: SparkSession,
      dir: String,
      alpha: Double,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val a = java.math.BigDecimal.valueOf(alpha)
    val b = java.math.BigDecimal.ONE.subtract(a)

    def step(
        userId: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        state: GroupState[Long]): Iterator[(Long, Long, Double)] = {
      val arr = rows.toArray.sortBy(r => (r._2, r._3))
      var prev: java.math.BigDecimal =
        if (state.exists) java.math.BigDecimal.valueOf(state.get, 9)
        else null
      val out = arr.map { r =>
        val x6 = java.math.BigDecimal.valueOf(r._4)
          .setScale(6, java.math.RoundingMode.HALF_UP)
        prev =
          if (prev == null) x6.setScale(9)
          else a.multiply(x6).add(b.multiply(prev))
            .setScale(9, java.math.RoundingMode.HALF_UP)
        (userId, r._3, prev.doubleValue)
      }
      if (prev != null) state.update(prev.unscaledValue().longValueExact())
      out.iterator
    }

    runToMemory(spark, "append", statePartitions = 16) { s =>
      eventsStream(s, dir, glob, maxFilesPerTrigger)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
        .toDF("user_id", "event_id", "ewma")
    }
      .orderBy("user_id", "event_id")
  }

  /** Streaming per-key z-score anomaly flagging: each event scored
    * against the mean/sd of its key's STRICTLY PRIOR events — the
    * real-time twin of the batch z-outlier screen (q135), with the
    * causality a batch pass can't give (no peeking at later events).
    * State per key is three exact integers: count, Σ(value·10⁴ units)
    * as a long, Σ(units²) as a BigInteger (two bursts of 5e6 units
    * square past a long) — so the accumulators are order- and
    * batch-boundary-exact, and z is one fixed double expression of
    * them, 9-dp rounded: bit-replayable by the batch
    * cumulative-window oracle. Keys emit null z until 3 priors exist
    * and the prior variance is positive. */
  def streamZScore(
      spark: SparkSession,
      dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

    def step(
        user: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        state: GroupState[(Long, Long, Array[Byte])]):
        Iterator[(Long, Long, Option[Double])] = {
      val (n0, su0, sqB) =
        state.getOption.getOrElse((0L, 0L, Array[Byte](0)))
      var n = n0; var su = su0
      var sq = BigInt(new java.math.BigInteger(sqB))
      val out = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
        val xu = r._4
        val z: Option[Double] =
          if (n < 3) None
          else {
            val nd = n.toDouble
            val meanU = su.toDouble / nd
            val varU = sq.toDouble / nd - meanU * meanU
            if (varU > 0)
              Some(r9((xu.toDouble - meanU) / math.sqrt(varU)))
            else None
          }
        n += 1; su += xu; sq += BigInt(xu) * BigInt(xu)
        (user, r._3, z)
      }
      state.update((n, su, sq.toByteArray))
      out.iterator
    }

    runToMemory(spark, "append", statePartitions = 16) { s =>
      eventsStream(s, dir, glob, maxFilesPerTrigger)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"),
          round(col("value") * lit(10000.0)).cast("long").as("xu"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
        .toDF("user_id", "event_id", "z")
    }
      .orderBy("user_id", "event_id")
  }

  /** Streaming per-key quantile estimation from a fixed-bin histogram
    * kept in `flatMapGroupsWithState` state: each value lands in bin
    * ⌊value/binWidth⌋ (one codegen'd floor BEFORE the stateful
    * operator — the kernel only counts), the estimate for quantile
    * num/den is the lower edge of the first bin whose cumulative count
    * reaches ⌈n·num/den⌉ (integer arithmetic — no float rank). State
    * per key is bounded by the OCCUPIED bin count (value range ÷
    * binWidth), never by the event count — the difference between a
    * streamable quantile and buffering the feed. Every trigger emits
    * the estimate-so-far per quantile (n is strictly increasing per
    * key, so the update log collapses deterministically by max-n);
    * long-form output `(event_type, qname, n_events, est)`. */
  def streamHistogramQuantile(
      spark: SparkSession,
      dir: String,
      binWidth: Double,
      quantiles: Seq[(String, Long, Long)],
      glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (qn, num, den) =>
      require(num >= 1 && num <= den,
        s"quantile $qn must have 1 <= num <= den, got $num/$den")
    }

    def step(
        key: String,
        rows: Iterator[(String, Long)],
        state: GroupState[Map[Long, Long]]):
        Iterator[(String, String, Long, Double)] = {
      val h = scala.collection.mutable.HashMap[Long, Long]() ++
        state.getOption.getOrElse(Map.empty)
      rows.foreach { r =>
        h.update(r._2, h.getOrElse(r._2, 0L) + 1L)
      }
      state.update(h.toMap)
      val n = h.valuesIterator.sum
      val sorted = h.toArray.sortBy(_._1)
      quantiles.iterator.map { case (qn, num, den) =>
        val k = (n * num + den - 1L) / den
        var cum = 0L
        val bin = sorted.iterator.map { case (b, c) =>
          cum += c; (b, cum)
        }.collectFirst { case (b, c) if c >= k => b }.get
        (key, qn, n, bin * binWidth)
      }
    }

    runToMemory(spark, "append", statePartitions = 8) { s =>
      eventsStream(s, dir, glob, maxFilesPerTrigger)
        .where(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value") / lit(binWidth)).cast("long").as("bin"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
        .toDF("event_type", "qname", "n_events", "est")
    }
      // n is strictly increasing per (key, qname) across triggers —
      // the lexicographic struct max IS the final estimate
      .groupBy("event_type", "qname")
      .agg(max(struct(col("n_events"), col("est"))).as("m"))
      .select(col("event_type"), col("qname"),
        col("m.n_events").as("n_events"), col("m.est").as("est"))
      .orderBy("event_type", "qname")
  }

  /** Streaming build of the persisted CountMin artifact (q178's
    * lifecycle driven by a stream): each micro-batch's sketch is
    * counter-wise-summed into the parquet artifact inside
    * `foreachBatch` — the deployment shape of a continuously-ingesting
    * frequency service. Counter sums commute, so the batch split
    * doesn't matter: the final artifact is EXACTLY the full-corpus
    * sketch, and the probe must match q157's full replay bit-for-bit.
    *
    * Exactly-once under foreachBatch's at-least-once contract: the
    * sketch fold is NOT idempotent (re-summing a batch double-counts),
    * so the artifact's meta carries the last applied batch id and
    * counters+meta publish as ONE new version
    * ([[graft.sources.Artifacts.publishVersion]] — pointer repoints
    * only after the version is complete) — a replayed batch sees
    * `batchId <= last_batch` and skips, and probes running WHILE a
    * batch folds resolve the previous complete version. All state
    * lives in the artifact; the stream itself is stateless.
    *
    * Returns (user_id, true_cnt, est) for the top-20 true-heaviest
    * users, probed from the stored counters. */
  def streamCountMin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Frequency
    import graft.sources.Artifacts
    val depth = 4; val width = 2048
    val sdir = upsertStreamDir(spark, dir)
    val stateBase = graft.TempCleanup.register(sys.props("java.io.tmpdir") +
      s"/graft_cmstream_${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode))
    val statePath = s"$stateBase/state"
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(stateBase), true)
    val s = spark.newSession()
    val schema =
      s.read.option("pathGlobFilter", "*.parquet").parquet(sdir).schema
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft_cm_ckpt_")
    def fold(
        batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long): Unit = {
      val cur = Artifacts.latestVersion(s, statePath)
        .map(v => s"$statePath/v$v")
      val lastApplied = cur
        .map(d => s.read.parquet(s"$d/meta").head().getAs[Long]("last_batch"))
        .getOrElse(-1L)
      if (batchId <= lastApplied) return // replayed batch: already folded
      val sk = Frequency.countMinSketch(
        batch.select(col("user_id")), "user_id", depth, width)
      val merged = cur match {
        case None => sk
        case Some(d) =>
          Frequency.countMinMerge(s.read.parquet(s"$d/counters"), sk)
      }
      Artifacts.publishVersion(s, statePath) { vdir =>
        merged.write.mode("overwrite").parquet(s"$vdir/counters")
        import s.implicits._
        Seq((depth, width, batchId)).toDF("depth", "width", "last_batch")
          .coalesce(1).write.mode("overwrite").parquet(s"$vdir/meta")
      }
    }
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", 1).parquet(sdir)
      .writeStream
      .foreachBatch(fold _)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable()
    finally {
      try q.stop()
      finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        val walk = Files.walk(ckpt)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    }
    val truth = graft.sources.Tables(spark, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(desc("true_cnt"), col("user_id")).limit(20)
    Frequency.countMinEstimatePersisted(
        spark, statePath, truth.select("user_id"), "user_id")
      .join(truth, "user_id")
      .select(col("user_id"), col("true_cnt"), col("est"))
      .orderBy(desc("true_cnt"), col("user_id"))
  }
}
