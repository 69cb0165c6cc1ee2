package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import graft.Overlap
import graft.SessionConf.withConf
import BatchedStore.{Counts, Gram, Ham, Win}
import graft.sink.JsonEnvelope
import graft.views.EventViews

/** The delivery path as Structured Streaming — the engine's form of the
  * Kafka Connect poll loop (SURVEY.md §3 EP2).
  *
  * Reference behavior owned here:
  *   - ~5 s poll cadence (reference readme.md:54) →
  *     `Trigger.ProcessingTime("5 seconds")`
  *   - offset persistence in `connect-offsets` (reference
  *     docker-compose.yml:74) → Structured Streaming checkpointing (WAL +
  *     commits), giving the same resume-after-restart, at-least-once
  *     semantics
  *   - topic routing `cdc-<relation>` (reference connector.json:16) → a
  *     `topic` column + partitioned sink (or `format("kafka")` in a real
  *     deployment — the transform chain is sink-agnostic)
  *
  * Late data: the reference's timestamp+incrementing polling silently skips
  * rows committed with an older ts after the offset passed them (SURVEY.md
  * §2.5). The engine's file-source stream has no such loss — new files are
  * discovered regardless of their ts — and the windowed aggregations below
  * bound state with watermarks instead, a strictly better and documented
  * divergence.
  */
object CdcStream {

  val DefaultTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** Open the log directory as a micro-batch stream. */
  def readLogStream(spark: SparkSession, logPath: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(logPath)

  /** Transform one relation's sub-stream into envelope-encoded, topic-tagged
    * delivery rows: filter (R2) → project (R1) → envelope (D1) → route (D2).
    */
  def deliveryStream(log: DataFrame, schemaName: String, tableName: String): DataFrame = {
    val relation = s"event_log_$tableName"
    val view = EventViews.forTable(log, schemaName, tableName)
    JsonEnvelope.withKey(
      JsonEnvelope.withTopic(JsonEnvelope.encode(view, relation), relation),
      col("event_id")
    ).select("topic", "key", "value")
  }

  /** Write delivery rows to a topic-partitioned file sink (the test stand-in
    * for `format("kafka")`; one directory per topic = one topic per
    * relation, reference readme.md:34-35).
    */
  def toTopicFiles(
      delivery: DataFrame,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery =
    delivery.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("topic")
      .trigger(trigger)
      .outputMode("append")
      .start()

  /** foreachBatch variant for sinks Spark lacks a native format for; the
    * batch is a plain DataFrame so any writer applies. Checkpointing still
    * provides exactly-once batch ids.
    */
  def toForeachBatch(
      delivery: DataFrame,
      checkpoint: String,
      trigger: Trigger
  )(f: (DataFrame, Long) => Unit): StreamingQuery =
    delivery.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) => f(batch.toDF(), id) }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode("append")
      .start()

  /** Crash-safe swap of a parquet-backed state directory: write `next`
    * to a tmp dir, move the live dir aside as a backup, move tmp live,
    * drop the backup. Every rename result is CHECKED (HDFS-style
    * FileSystem APIs signal failure by returning false, not throwing) —
    * a false would otherwise silently lose the whole state table — and a
    * crash at any point leaves either the old state or a recoverable
    * `.bak` beside an intact tmp, never nothing. Recovery: a live dir
    * always wins; with no live dir, `.bak` holds the pre-swap state.
    */
  private def swapState(spark: SparkSession, statePath: String, next: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(statePath)
    val tmp = new Path(s"$statePath.tmp")
    val bak = new Path(s"$statePath.bak")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    next.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(bak, true)
    if (fs.exists(live) && !fs.rename(live, bak))
      throw new java.io.IOException(s"state swap: could not move $live aside to $bak")
    if (!fs.rename(tmp, live)) {
      // restore the previous state before failing — the table must never
      // be left missing
      if (fs.exists(bak)) fs.rename(bak, live)
      throw new java.io.IOException(s"state swap: could not move $tmp into place at $live")
    }
    fs.delete(bak, true)
    ()
  }

  /** Current state table for [[swapState]]-managed dirs: the live dir if
    * present, else the `.bak` a mid-swap crash may have left (so a crash
    * between the two renames degrades to replaying one batch, never to
    * silently restarting from empty).
    */
  private def readState(spark: SparkSession, statePath: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val live = new Path(statePath)
    val bak = new Path(s"$statePath.bak")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(live)) Some(spark.read.parquet(statePath))
    else if (fs.exists(bak)) Some(spark.read.parquet(bak.toString))
    else None
  }

  /** Maintain a materialized current-state table from the change stream:
    * each micro-batch applies its events to the stored snapshot
    * (CdcApply.applyLog — latest per key wins) and atomically swaps the
    * state directory. The CDC-to-materialized-view flow without a
    * transactional table format: per-batch cost is one key-partitioned
    * join of batch × state; the tmp-write + rename swap keeps readers
    * consistent, and checkpointing makes redelivery idempotent (applyLog
    * is — reapplying the same events yields the same state).
    */
  def materialize(
      logStream: DataFrame,
      statePath: String,
      checkpoint: String,
      pk: Seq[String],
      payloadSchema: org.apache.spark.sql.types.StructType,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery =
    toForeachBatch(logStream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      val current = readState(spark, statePath).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], payloadSchema))
      val next = graft.capture.CdcApply.applyLog(current, batch, pk, payloadSchema)
      swapState(spark, statePath, next)
    }

  /** Streaming SCD2 maintenance — [[graft.capture.CdcApply.scd2History]]
    * kept current by micro-batches: the history table (one row per
    * version, `valid_from_id`/`valid_to_id`/`is_current`) is extended
    * incrementally as change events arrive, the dimension-tracking twin
    * of [[materialize]]'s current-state table.
    *
    * Work per trigger is O(batch + open versions of touched keys):
    * untouched keys pass through via one anti-join on the PK, CLOSED
    * versions of touched keys are immutable by construction, and only
    * each touched key's OPEN version re-enters the lead window beside
    * the batch's events — the monotonic event id guarantees it sorts
    * first, so the chain extends without recomputing history.
    * At-least-once redelivery is absorbed by the per-key high-water
    * mark (max id the history has already incorporated, whether as a
    * version start or a closing edge): replayed events at or below it
    * are dropped before the window, so reprocessing a delivered batch
    * is a no-op — the streaming form of `CdcLog.dedup` idempotence.
    */
  def scd2Maintain(
      logStream: DataFrame,
      statePath: String,
      checkpoint: String,
      pk: Seq[String],
      payloadSchema: StructType,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery =
    toForeachBatch(logStream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      Marker.verifyKeyFormat(spark, statePath, "scd2:event_id:v1")
      val cols = payloadSchema.fieldNames.toSeq
      val parsed = batch.select(
        col("event_id").as("__ord"),
        col("operation"),
        from_json(coalesce(col("after"), col("before")), payloadSchema).as("__row"))
      val keyed = pk.foldLeft(parsed) { case (df, k) => df.withColumn(k, col(s"__row.$k")) }
      val history = readState(spark, statePath)
      val batchKeys = keyed.select(pk.map(col): _*).distinct()
      val openAsChain = history.map { h =>
        h.join(batchKeys, pk, "left_semi")
          .where(col("is_current") === 1)
          .select(
            col("valid_from_id").as("__ord"),
            lit("OPEN").as("operation"),
            struct(cols.map(col): _*).as("__row"))
      }
      val openKeyed = openAsChain.map(o =>
        pk.foldLeft(o) { case (df, k) => df.withColumn(k, col(s"__row.$k")) })
      // redelivery guard: drop batch events the history already holds
      val hwm = history.map { h =>
        h.join(batchKeys, pk, "left_semi")
          .groupBy(pk.map(col): _*)
          .agg(max(greatest(
            coalesce(col("valid_to_id"), lit(Long.MinValue)),
            coalesce(col("valid_from_id"), lit(Long.MinValue)))).as("__hwm"))
      }
      val fresh = hwm match {
        case Some(m) =>
          keyed.join(m, pk, "left_outer")
            .where(col("__hwm").isNull || col("__ord") > col("__hwm"))
            .drop("__hwm")
        case None => keyed
      }
      val chainIn = openKeyed.map(fresh.unionByName(_)).getOrElse(fresh)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pk.map(col): _*).orderBy(col("__ord").asc_nulls_first)
      val rebuilt = chainIn
        .withColumn("valid_to_id", lead(col("__ord"), 1).over(w))
        .where(col("operation") =!= graft.model.ChangeEvent.Delete)
        .select(
          cols.map(c => col(s"__row.$c").as(c)) ++ Seq(
            col("__ord").as("valid_from_id"),
            col("valid_to_id"),
            when(col("valid_to_id").isNull, 1).otherwise(0).as("is_current")
          ): _*)
      val next = history match {
        case Some(h) =>
          val untouched = h.join(batchKeys, pk, "left_anti")
          val closedTouched = h.join(batchKeys, pk, "left_semi")
            .where(col("is_current") === 0)
          untouched.unionByName(closedTouched).unionByName(rebuilt)
        case None => rebuilt
      }
      swapState(spark, statePath, next)
    }

  /** Streaming exact dedup with bounded state: duplicates of a key are
    * dropped for as long as the key can still arrive (the watermark bound)
    * — the streaming form of CdcLog.dedup's at-least-once idempotence.
    * State size = keys within the watermark horizon, not the whole history.
    */
  def streamingDedup(events: DataFrame, tsCol: String, keys: Seq[String], watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  // ---- streaming time windows (SURVEY.md §2.5 streaming rows) --------------

  /** Tumbling-window counts/sums with a watermark bounding state. */
  def tumblingAgg(events: DataFrame, tsCol: String, width: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Sliding-window aggregate. */
  def slidingAgg(events: DataFrame, tsCol: String, width: String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Session windows keyed by user with a gap timeout. */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Timescale-style continuous aggregate: a tumbling time-bucket rollup
    * over the event stream, maintained INCREMENTALLY in a parquet state
    * table (the reference database's flagship "continuous aggregate"
    * feature — precomputed rollups that stay current as data arrives,
    * readme's hypertables exist to serve exactly this pattern).
    *
    * Update output mode + foreachBatch upsert: each micro-batch carries
    * only the (window, group) rows whose aggregates CHANGED, and the
    * upsert replaces exactly those keys in the state table — work per
    * trigger is O(changed windows), never a recompute of history. The
    * watermark bounds both the streaming state and which windows can
    * still change. Re-emitted rows (update mode re-sends a window each
    * time it changes) are idempotent under the replace-by-key upsert.
    */
  def continuousAggregate(
      events: DataFrame,
      tsCol: String,
      width: String,
      watermark: String,
      groupCol: String,
      statePath: String,
      checkpoint: String,
      trigger: Trigger = DefaultTrigger,
      valueCol: String = "value"
  ): StreamingQuery = {
    val agg = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width).as("w"), col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(
        // microsecond resolution: the upsert key must distinguish every
        // window the width can produce — unix_timestamp (seconds) would
        // collide distinct sub-second buckets under replace-by-key
        unix_micros(col("w.start")).as("win_start"),
        col(groupCol), col("n"), col("total"))
    val keys = Seq("win_start", groupCol)
    agg.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        Marker.verifyKeyFormat(spark, statePath, "win_start:unix_micros:v2")
        val changed = batch.toDF().cache()
        try {
          val next = readState(spark, statePath) match {
            case Some(current) =>
              // replace-by-key: survivors are rows whose key is NOT in
              // this batch (anti join on the rollup key), plus the batch
              current.join(changed, keys, "left_anti").unionByName(changed)
            case None => changed
          }
          swapState(spark, statePath, next)
        } finally { changed.unpersist(); () }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode("update")
      .start()
  }

  /** Streaming-maintained SERVABLE rollup — the full Timescale
    * continuous-aggregate loop: the stream incrementally upserts a state
    * table whose schema IS [[graft.plans.RollupRewrite.buildRollup]]'s
    * (keys…, bucket_ts, n, cnt_e, sum_e, min_e, max_e + the OHLC
    * partials), so after a drain the state parquet registers directly
    * with the optimizer rewrite: raw-table queries are then answered
    * from the stream-maintained materialization, and files appended
    * since the last drain are covered by the rewrite's real-time tail —
    * `materialized_only = false` end-to-end.
    *
    * Upsert is replace-by-key on (keys…, bucket_ts): Spark's stateful
    * window aggregation emits the FULL re-aggregate of every touched
    * window each micro-batch (update mode), so replacing the row is
    * exact — the same swap/anti-join machinery as
    * [[continuousAggregate]], keyed by the bucket TIMESTAMP itself
    * (µs-exact in parquet; stamped as its own key format).
    *
    * Scale shape: per trigger the batch touches O(batch windows) keys;
    * the anti-join is keyed on the rollup key, and state I/O is one
    * columnar swap of the rollup table (itself thousands of times
    * smaller than the raw stream).
    */
  def rollupMaintain(
      events: DataFrame,
      tsCol: String,
      width: String,
      watermark: String,
      keys: Seq[String],
      measure: Column,
      statePath: String,
      checkpoint: String,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery = {
    val agg = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width).as("w") +: keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        count(measure).as("cnt_e"),
        sum(measure).as("sum_e"),
        min(measure).as("min_e"),
        max(measure).as("max_e"),
        min(col(tsCol)).as("ts_open"),
        min_by(measure, col(tsCol)).as("open_e"),
        max(col(tsCol)).as("ts_close"),
        max_by(measure, col(tsCol)).as("close_e"))
      .select(col("w.start").as("bucket_ts") +: (keys.map(col) ++ Seq(
        col("n"), col("cnt_e"), col("sum_e"), col("min_e"), col("max_e"),
        col("ts_open"), col("open_e"), col("ts_close"), col("close_e"))): _*)
    val upsertKeys = "bucket_ts" +: keys
    agg.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        Marker.verifyKeyFormat(spark, statePath, "bucket_ts:timestamp_us:v1")
        val changed = batch.toDF().cache()
        try {
          val next = readState(spark, statePath) match {
            case Some(current) =>
              current.join(changed, upsertKeys, "left_anti").unionByName(changed)
            case None => changed
          }
          swapState(spark, statePath, next)
        } finally { changed.unpersist(); () }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode("update")
      .start()
  }

  /** Streaming continuous aggregate with MERGEABLE SKETCH state — the
    * `percentile_agg`-inside-a-continuous-aggregate form (Timescale's
    * caggs carry sketch states, not just sums; [[rollupMaintain]] covers
    * the sum/count/extrema family, this covers the sketch family).
    *
    * Per trigger: the batch aggregates to per-(bucket, keys) t-digest
    * PARTIALS plus exact counts, and the stored state advances by SKETCH
    * MERGE — touched buckets re-merge `stored ∪ batch` through
    * `tdigest_merge_agg`, untouched buckets pass through untouched. Work
    * per trigger is O(batch + touched buckets); the raw history is never
    * rescanned, which is the whole point of mergeable sketch state (a
    * windowed exact percentile would need every raw value kept).
    *
    * Contract surface: counts are EXACT across any batching (the gate's
    * hash anchor); digest estimates are within the t-digest rank bound
    * but merge-order-DEPENDENT (never bit-stable across batchings — the
    * documented t-digest asymmetry vs UDDSketch), so correctness gates
    * pin exact anchors + rank-bound booleans, not digest bytes.
    *
    * Replay safety: the state rows carry `applied_batch` (the batch id
    * that produced this state version) ATOMICALLY inside the state swap.
    * An incremental sketch merge is not naturally idempotent — replaying
    * a micro-batch after a crash-before-checkpoint would double-merge
    * and double-count — so a batch whose id is ≤ the stored
    * `applied_batch` is skipped as already folded in.
    */
  def sketchRollupMaintain(
      events: DataFrame,
      tsCol: String,
      widthSeconds: Long,
      keys: Seq[String],
      valueCol: String,
      statePath: String,
      checkpoint: String,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery = {
    val upsertKeys = "bucket_ts" +: keys
    toForeachBatch(events, checkpoint, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      graft.functions.GraftFunctions.register(spark)
      Marker.verifyKeyFormat(spark, statePath, "bucket_ts:timestamp_us:v1")
      import graft.functions.GraftFunctions.{tdigest_agg, tdigest_merge_agg}
      val stored = readState(spark, statePath)
      // null-safe high-water read: an EMPTY state table (a first batch
      // with zero rows still swaps state in) makes max(applied_batch)
      // NULL — coalesce to -1 so the stream treats it as "nothing
      // applied yet" instead of NPE-ing on getLong
      val alreadyApplied = stored.exists { st =>
        st.columns.contains("applied_batch") &&
          st.agg(coalesce(max(col("applied_batch")), lit(-1L)))
            .head().getLong(0) >= batchId
      }
      if (!alreadyApplied) {
        val b = batch
          .groupBy(graft.operators.TsAnalytics
            .timeBucket(col(tsCol), widthSeconds).as("bucket_ts") +: keys.map(col): _*)
          .agg(
            count(lit(1)).as("n"),
            tdigest_agg(col(valueCol).cast("double")).as("sk"))
          .cache()
        try {
          val next = stored match {
            case Some(current0) =>
              val current = current0.drop("applied_batch")
              val untouched = current.join(b, upsertKeys, "left_anti")
              val touched = current.join(b.select(upsertKeys.map(col): _*), upsertKeys, "left_semi")
              val remerged = touched.unionByName(b)
                .groupBy(upsertKeys.map(col): _*)
                .agg(sum(col("n")).as("n"), tdigest_merge_agg(col("sk")).as("sk"))
              untouched.unionByName(remerged)
            case None => b
          }
          swapState(spark, statePath, next.withColumn("applied_batch", lit(batchId)))
        } finally { b.unpersist(); () }
      }
    }
  }

  /** Streaming exact-substring dedup + strip — the INGEST composition of
    * [[graft.ext.Dedup.exactSubstringSpansIncremental]] and
    * [[graft.ext.Dedup.stripSpans]]: per micro-batch, arriving documents
    * probe the persisted gram store (presence ⇒ the first occurrence is
    * already stored ⇒ every arriving occurrence is removable), flagged
    * spans run-merge and strip, the stripped text lands in the output
    * table, and the store advances by APPENDING only the batch's NEW
    * grams. The training-data ingest path that emits deduplicated text
    * per trigger.
    *
    * EQUIVALENCE (StreamingSpec-pinned): with monotone doc ids across
    * batches, a position's flag depends only on documents at-or-before
    * its own batch (a later duplicate never flags the EARLIER first
    * occurrence), so the per-batch outputs union to EXACTLY the one-shot
    * batch [[graft.ext.Dedup.exactSubstringSpans]]→stripSpans over the
    * whole corpus — the driver gate hash-pins this against the
    * x_substring_strip oracle.
    *
    * GRAM STORE LAYOUT — append-only, never rewritten: the store is a
    * parquet table partitioned by `ingest_batch` (the micro-batch that
    * contributed the grams) × `gb` (gram-hash bucket, `numBuckets`-way).
    * Per trigger the batch's grams `left_anti` the store (the probe join
    * already pays this shape) and ONLY the genuinely new grams are
    * written, into the batch's own partition — per-trigger I/O is
    * O(batch grams), not O(index), unlike a union+distinct+swap which
    * would shuffle and rewrite the full corpus-sized store every 5 s.
    * The bucket axis is the scale pruning: a probe only reads the `gb`
    * partitions the batch's own grams hash into (at a 100 TB store a
    * small batch touches a subset of a wide bucket space; the state the
    * admission operators [[graft.ext.Dedup.hammingAdmitBanded]] /
    * semanticAdmit pre-bucket for the same reason). Partition-count
    * growth (one `ingest_batch=` dir per trigger) is the standard
    * streaming-table compaction concern — [[BatchedStore.compact]] is
    * the offline fold (set-preserving, crash-resumable, run while the
    * stream is stopped).
    *
    * REPLAY SAFETY — a crashed foreachBatch re-runs its LAST batch, so
    * every step is idempotent per `batchId`: (1) the probe reads the
    * store filtered to `ingest_batch < batchId`, so a replay sees
    * exactly the pre-batch index even if the crashed attempt already
    * appended this batch's grams (re-probing an index that contains the
    * batch's own grams would wrongly strip first occurrences); (2) the
    * stripped output OVERWRITES the batch's own `ingest_batch=<id>`
    * output partition (never blind-appends to the table root); (3) the
    * gram append overwrites the batch's own store partition. Batch ids
    * are monotone per checkpoint, so the checkpoint, gram store and
    * output dirs live and die together (stamped via the key-format
    * marker). `hashKey = true` is the production layout (8-byte gram
    * keys in the store and every probe shuffle).
    */
  def substringStripMaintain(
      docStream: DataFrame,
      indexPath: String,
      outPath: String,
      checkpoint: String,
      k: Int,
      hashKey: Boolean = false,
      numBuckets: Int = 16,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery =
    toForeachBatch(docStream, checkpoint, trigger) { (batch, batchId) =>
      substringStripApplyBatch(
        batch, batchId, indexPath, outPath, k, hashKey, numBuckets)
    }

  /** One micro-batch of [[substringStripMaintain]] — package-visible so
    * the crash-replay spec and the stress probe can drive a single
    * trigger directly (the streaming query is just this applied per
    * batch). Idempotent in `batchId` by construction (see the layout /
    * replay notes on the public method).
    *
    * Returns the stripped-output frame it wrote. With
    * `keepOutput = true` the frame is LOCAL-CHECKPOINTED (lazy — the
    * stage's own partition write below is the materializing action, so
    * the checkpoint costs no extra job), and a composing caller
    * ([[ingestPipelineApplyBatch]])
    * can feed the next stage from memory instead of re-reading the
    * partition it just wrote — the write stays the replay-safe state,
    * the read-back was pure per-trigger overhead. A checkpoint, not a
    * cache, because only the checkpoint TRUNCATES lineage the way the
    * read-back did — a cached handoff nests every prior stage's plan
    * into the next and the composed pipeline's analysis cost explodes.
    * Checkpoint blocks free with the trigger's frames (ContextCleaner).
    */
  private[graft] def substringStripApplyBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      outPath: String,
      k: Int,
      hashKey: Boolean,
      numBuckets: Int,
      keepOutput: Boolean = false): DataFrame = {
    val (kept, append) = substringStripApplyBatchStaged(
      batch, batchId, indexPath, outPath, k, hashKey, numBuckets, keepOutput)
    append()
    kept
  }

  /** [[substringStripApplyBatch]] with the store append STAGED: returns
    * the written output frame plus the append as an unrun thunk. The
    * composed pipeline ([[ingestPipelineApplyBatch]]) runs the four
    * stages' appends CONCURRENTLY off the doc-flow critical path — they
    * touch four disjoint stores and nothing downstream reads them this
    * trigger (probes filter `ingest_batch < batchId`), so only the
    * per-stage probe + output writes remain sequential. The thunk owns
    * the stage's cache releases; it MUST be invoked exactly once, and
    * the trigger must not commit before it completes (replay safety —
    * the caller awaits before returning to foreachBatch). */
  private[graft] def substringStripApplyBatchStaged(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      outPath: String,
      k: Int,
      hashKey: Boolean,
      numBuckets: Int,
      keepOutput: Boolean,
      broadcastProbe: Option[Boolean] = None): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.ext.Dedup
    require(numBuckets >= 1, "need numBuckets >= 1")
    val spark = batch.sparkSession
    val buckets = Gram.open(spark, indexPath, numBuckets)(n =>
      s"substring_gram:k=$k:hash=$hashKey:buckets=$n:v2")
    val b = batch.cache()
    val batchGrams = Dedup.substringGramIndex(b, "doc_id", "text", k, hashKey)
      .withColumn("gb", Gram.bucket(buckets))
      .cache()
    def cleanup(): Unit = { batchGrams.unpersist(); b.unpersist(); () }
    try {
      val index = Gram.read(spark, indexPath, Gram.schema(if (hashKey) LongType else StringType),
        batchId, Gram.touched(batchGrams, buckets)).select("g")
      // broadcastProbe: the batch gram SET is already cached and counted
      // into `touched` at large bucket counts; when the caller gave no
      // size hint, gate the probe broadcast on the batch gram count
      // (batchGrams is cached — the count re-reads the cache, it does
      // not force upstream stages)
      val probeHint = broadcastProbe.orElse(
        Some(batchGrams.count() <= graft.ext.Dedup.ProbeBroadcastMaxBatchRows * 256))
      val spans = Dedup
        .exactSubstringSpansIncremental(index, b, "doc_id", "text", k, hashKey, probeHint)
      val out = Dedup.stripSpans(b, "doc_id", "text", spans.select("doc_id", "spans"))
      // eager under keepOutput — the boilerplateApplyBatchStaged note
      val kept = if (keepOutput) out.localCheckpoint(eager = true) else out
      // the index advance: new grams = batchGrams \ index. When the
      // probe is broadcast-shaped (trigger-sized batch against a
      // corpus-scale store — the steady-state trigger), the direct
      // left_anti SMJ-shuffled the ENTIRE touched store per trigger
      // inside the commit barrier (batchGrams is far below the
      // broadcast wall but left_anti can only broadcast its RIGHT side,
      // so the planner shuffles both). Instead re-contact the store the
      // way the probe does — a map-only semi-join against the broadcast
      // batch gram set (output ≤ batch grams, store never shuffles) —
      // and anti-join the batch grams against that broadcast HIT set:
      // identical set algebra (the store is a gram SET), zero store
      // shuffle. A corpus-sized seed feed (probeHint false) keeps the
      // plain left_anti — broadcasting its gram set would hit the 8 GiB
      // wall — and a small store keeps it too (the planner already
      // broadcasts the store side there).
      val newGrams =
        if (probeHint.contains(true) &&
            Dedup.estimatedBytes(index) > Dedup.ProbeSmallStoreBytes)
          batchGrams.join(
            broadcast(index.join(broadcast(batchGrams.select("g")), Seq("g"), "left_semi")),
            Seq("g"), "left_anti")
        else batchGrams.join(index, Seq("g"), "left_anti")
      (kept, Gram.stagedAppend(kept, outPath, newGrams.select("g", "gb"), indexPath, batchId,
        Some(buckets))(() => cleanup()))
    } catch { case e: Throwable => cleanup(); throw e }
  }

  /** Streaming perceptual-hash admission — the INGEST composition of
    * [[graft.ext.Dedup.hammingAdmitBanded]]: per micro-batch, arriving
    * 64-bit sketches (any perceptual family — image dHash, audio energy
    * signs, video keyframe/N-frame slots) probe the persisted BANDED
    * Hamming index, their admission statuses (`new` / `dup_snapshot` /
    * `dup_batch`) land in the batch's own output partition, and the
    * index advances by APPENDING the batch's banded rows — the
    * image/audio/video dedup-at-ingest path, sharing
    * [[substringStripMaintain]]'s store discipline:
    *
    *   - store layout: parquet partitioned `ingest_batch` × `blk` (the
    *     banded `(blk, key, id, hh)` artifact the batch admission form
    *     probes — one layout, no drift), appended per trigger, never
    *     rewritten;
    *   - replay safety: probes filter `ingest_batch < batchId`, and both
    *     the admissions output and the banded append overwrite the
    *     batch's own partition, so foreachBatch redelivery is a no-op;
    *   - equivalence: with monotone ids, batch statuses equal
    *     [[graft.ext.Dedup.hammingAdmitBanded]] against the banded union
    *     of all prior batches (StreamingSpec-pinned; the driver gate
    *     shares `x_dedup_image_incr`'s closed-form oracle).
    */
  def hammingAdmitMaintain(
      sketchStream: DataFrame, // (idCol, hashCol) per micro-batch
      indexPath: String,
      outPath: String,
      checkpoint: String,
      idCol: String,
      hashCol: String,
      radius: Int = 11,
      blocks: Int = 4,
      probeBits: Int = 2,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery =
    toForeachBatch(sketchStream, checkpoint, trigger) { (batch, batchId) =>
      hammingAdmitApplyBatch(
        batch, batchId, indexPath, outPath, idCol, hashCol,
        radius, blocks, probeBits)
    }

  /** One micro-batch of [[hammingAdmitMaintain]] — package-visible for
    * the crash-replay spec and stress probes. Idempotent in `batchId`.
    * Returns the admission-status frame it wrote (local-checkpointed
    * when `keepOutput` — the [[substringStripApplyBatch]] contract).
    */
  private[graft] def hammingAdmitApplyBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      outPath: String,
      idCol: String,
      hashCol: String,
      radius: Int,
      blocks: Int,
      probeBits: Int,
      keepOutput: Boolean = false): DataFrame = {
    val (kept, append) = hammingAdmitApplyBatchStaged(
      batch, batchId, indexPath, outPath, idCol, hashCol, radius, blocks,
      probeBits, keepOutput)
    append()
    kept
  }

  /** Layout-verified, replay-filtered read of the banded Hamming store —
    * shared by the standalone staged stage and the composed pipeline's
    * speculative probe leg.
    */
  private[graft] def readHammingStore(
      spark: SparkSession,
      indexPath: String,
      batchId: Long,
      radius: Int,
      blocks: Int,
      probeBits: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    Marker.verifyKeyFormat(spark, indexPath,
      s"hamming_banded:radius=$radius:blocks=$blocks:probe=$probeBits:v1")
    Ham.read(spark, indexPath, Ham.schema(LongType), batchId).select("blk", "key", "id", "hh")
  }

  /** [[hammingAdmitApplyBatch]] with the banded append staged — the
    * [[substringStripApplyBatchStaged]] contract. */
  private[graft] def hammingAdmitApplyBatchStaged(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      outPath: String,
      idCol: String,
      hashCol: String,
      radius: Int,
      blocks: Int,
      probeBits: Int,
      keepOutput: Boolean): (DataFrame, () => Unit) = {
    import graft.ext.Dedup
    val spark = batch.sparkSession
    val bandedIndex = readHammingStore(spark, indexPath, batchId, radius, blocks, probeBits)
    val b = batch.cache()
    try {
      val out = Dedup
        .hammingAdmitBanded(bandedIndex, b, idCol, hashCol, radius, blocks, probeBits)
      // eager under keepOutput — the boilerplateApplyBatchStaged note
      val kept = if (keepOutput) out.localCheckpoint(eager = true) else out
      (kept, Ham.stagedAppend(kept, outPath, Dedup.hammingIndexBanded(b, idCol, hashCol, blocks),
        indexPath, batchId, width = None)(() => { b.unpersist(); () }))
    } catch { case e: Throwable => b.unpersist(); throw e }
  }

  /** Streaming winnowing near-dup admission — the INGEST form of
    * [[graft.ext.Dedup.winnowAdmitStored]] and the FUZZY-TEXT sibling of
    * [[hammingAdmitMaintain]]: each micro-batch's documents are
    * classified `dup_snapshot` / `dup_batch` / `new` against the stored
    * fingerprint postings, then ALL of the batch's postings land in the
    * batch's own `ingest_batch=` partition of the fb-bucketed store
    * (dup-after-first: a later copy of a duplicate matches the stored
    * duplicate — the [[hammingAdmitMaintain]] contract).
    *
    * The df cap is CUMULATIVE-PRIOR at probe time (the one divergence
    * from the batch artifact, which drops capped fingerprints at build):
    * a streaming store cannot re-count global df per trigger, so hot
    * fingerprints are detected from the postings already read for the
    * probe (prior rows for the batch's own fingerprints — no extra scan)
    * and excluded BEFORE the pairing join, bounding candidate fan-out at
    * maxDf postings per fingerprint. Per-trigger work is
    * O(batch + touched buckets): bucket pruning via bounded collect, a
    * semi-join on the batch's fingerprints, and append-only state
    * advance — never a store rewrite.
    *
    * REPLAY SAFETY: the probe filters `ingest_batch < batchId`, so a
    * replayed batch sees the PRE-batch store even though the crashed
    * attempt already appended its postings, and both writes overwrite
    * the batch's own partition — redelivery is a no-op. Layout
    * parameters (w, windowSize, maxDf, buckets, hash) are stamped via
    * the state marker; drift is a hard error.
    */
  def winnowAdmitMaintain(
      docStream: DataFrame, // (idCol, textCol) per micro-batch
      indexPath: String,
      outPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      w: Int = 5,
      windowSize: Int = 4,
      minShared: Int = 3,
      maxDf: Long = 8L,
      numBuckets: Int = 16,
      portable: Boolean = false,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery =
    toForeachBatch(docStream, checkpoint, trigger) { (batch, batchId) =>
      winnowAdmitApplyBatch(
        batch, batchId, indexPath, outPath, idCol, textCol,
        w, windowSize, minShared, maxDf, numBuckets, portable)
    }

  /** Stamp a [[winnowAdmitMaintain]] store's layout marker without
    * running a batch — the bulk-backfill entry point: a deployment
    * seeding the store with a one-shot partitioned write of historical
    * postings (rather than replaying history through the maintainer)
    * stamps the layout it wrote so the first real trigger verifies
    * instead of refusing. Also used by the stress harness's
    * fragmented-store probes; the format string is the maintainer's
    * own, so drift throws at the next trigger, never probes silently.
    * Returns the store's bucket count.
    */
  private[graft] def stampWinnowLayout(
      spark: SparkSession,
      indexPath: String,
      w: Int,
      windowSize: Int,
      maxDf: Long,
      numBuckets: Int,
      portable: Boolean): Int =
    Win.open(spark, indexPath, numBuckets)(n =>
      s"winnow_admit:w=$w:ws=$windowSize:maxdf=$maxDf:b=$n:h=${if (portable) "md5" else "xx"}:v1")

  /** One micro-batch of [[winnowAdmitMaintain]] — package-visible for
    * the crash-replay spec and stress probes. Idempotent in `batchId`.
    * Returns the `(id, status)` frame it wrote (local-checkpointed
    * when `keepOutput` — the [[substringStripApplyBatch]] contract).
    */
  private[graft] def winnowAdmitApplyBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      outPath: String,
      idCol: String,
      textCol: String,
      w: Int,
      windowSize: Int,
      minShared: Int,
      maxDf: Long,
      numBuckets: Int,
      portable: Boolean,
      keepOutput: Boolean = false): DataFrame = {
    val (kept, append) = winnowAdmitApplyBatchStaged(
      batch, batchId, indexPath, outPath, idCol, textCol,
      w, windowSize, minShared, maxDf, numBuckets, portable, keepOutput)
    append()
    kept
  }

  /** [[winnowAdmitApplyBatch]] with the postings append staged — the
    * [[substringStripApplyBatchStaged]] contract. */
  /** `broadcastProbe`: the composed pipeline's micro-batch size hint
    * (the [[substringStripApplyBatchStaged]] contract). When the caller
    * KNOWS the batch is trigger-sized, the batch-derived join sides
    * (fingerprint set, hot set, hit sets) get explicit broadcast hints:
    * the pipeline hands this stage a LAZY fused frame whose static size
    * estimate is corpus-inflated, so without the hint the planner
    * sort-merges what a materialized input would have broadcast. A
    * corpus-sized seed feed passes Some(false) / None and keeps the
    * planner free (broadcasting a corpus fan-out would hit the 8 GiB
    * broadcast wall). */
  private[graft] def winnowAdmitApplyBatchStaged(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      outPath: String,
      idCol: String,
      textCol: String,
      w: Int,
      windowSize: Int,
      minShared: Int,
      maxDf: Long,
      numBuckets: Int,
      portable: Boolean,
      keepOutput: Boolean,
      broadcastProbe: Option[Boolean] = None): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.ext.Dedup
    require(minShared >= 1, "need minShared >= 1")
    require(maxDf >= 2, "need maxDf >= 2 — pairs need fingerprints in at least 2 docs")
    require(numBuckets >= 1, "need numBuckets >= 1")
    val spark = batch.sparkSession
    val buckets = stampWinnowLayout(spark, indexPath, w, windowSize, maxDf, numBuckets, portable)
    val posts = Dedup.winnowingPostings(batch, idCol, textCol, w, windowSize, portable)
      .withColumn("fb", Win.bucket(buckets))
      .cache()
    // micro-batch hint: wrap a batch-derived join side in an explicit
    // broadcast (see the broadcastProbe scaladoc); identity otherwise
    val bHint: DataFrame => DataFrame =
      if (broadcastProbe.contains(true)) broadcast _ else identity _
    var priorCached: Option[DataFrame] = None
    def cleanup(): Unit = {
      priorCached.foreach(_.unpersist()); posts.unpersist(); ()
    }
    try {
      // CACHED: prior has two consumers (the hot-set aggregate and the
      // pairing join), and without the cache each planned its OWN full
      // semi-scan of the touched store — the store's bytes were read
      // twice per trigger. One cached map-only scan feeds both; rows are
      // bounded by the store postings matching the batch's fingerprints,
      // and the cache drops with the stage's cleanup.
      val prior = Win
        .read(spark, indexPath, Win.schema(if (portable) StringType else LongType), batchId,
          Win.touched(posts, buckets))
        .join(bHint(posts.select("fp").distinct()), Seq("fp"), "left_semi")
        .select(col("fp"), col("id").as("a_id"))
        .persist()
      priorCached = Some(prior)
      val out = Dedup.winnowStatuses(batch, idCol, posts, prior, minShared, maxDf, hint = bHint)
      // eager under keepOutput — the boilerplateApplyBatchStaged note
      val kept = if (keepOutput) out.localCheckpoint(eager = true) else out
      (kept, Win.stagedAppend(kept, outPath, posts.select("id", "fp", "fb"), indexPath, batchId,
        Some(buckets))(() => cleanup()))
    } catch { case e: Throwable => cleanup(); throw e }
  }

  /** Streaming BM25 inverted-index maintenance — the INGEST form of
    * [[graft.ext.TextOps.materializeBm25Index]]: per micro-batch the
    * arriving documents' postings, dictionary partial and corpus-stats
    * partial land in the batch's own `ingest_batch=` partition of the
    * SAME stored layout the one-shot build writes, and
    * [[graft.ext.TextOps.bm25TopKStored]] probes either producer
    * identically. Keeps a 100 TB corpus's retrieval index current at the
    * ingest cadence without ever touching previously indexed documents.
    *
    * O(batch) per trigger BY CONSTRUCTION — the maintainer performs no
    * cross-batch reads at all: postings are per-document facts (append
    * only), document frequencies are per-batch (term, df) PARTIALS the
    * probe sums (each document lives in exactly one batch, so partial
    * sums equal the global df), and stats are (n, sum_dl) partials
    * merged the same way. This is the mergeable-partial discipline of
    * [[sketchRollupMaintain]] taken to its limit: because the partials
    * need no re-merge against stored state, there is no state read, no
    * upsert shuffle and no swap — only three bounded writes.
    *
    * EQUIVALENCE: the merged index is a set union of per-batch partials,
    * so however the corpus was batched the probe sees EXACTLY the
    * one-shot build's index (StreamingSpec-pinned; the driver gate
    * hash-pins a two-batch lifecycle against the batch oracle).
    *
    * REPLAY SAFETY: a crashed foreachBatch re-runs its last batch; every
    * write overwrites the batch's OWN `ingest_batch=<id>` partition, so
    * redelivery reproduces identical partials in place — never a
    * double-count (the [[substringStripMaintain]] layout discipline).
    * The bucket count is stamped in the artifact marker on first contact
    * and verified on every subsequent batch and probe.
    */
  def bm25IndexMaintain(
      docStream: DataFrame, // (idCol, textCol) per micro-batch
      indexPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      numBuckets: Int = 64,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery =
    toForeachBatch(docStream, checkpoint, trigger) { (batch, batchId) =>
      bm25IndexApplyBatch(
        batch, batchId, indexPath, idCol, textCol, numBuckets)
    }

  /** One micro-batch of [[bm25IndexMaintain]] — package-visible for the
    * crash-replay spec and stress probes. Idempotent in `batchId`. */
  private[graft] def bm25IndexApplyBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      idCol: String,
      textCol: String,
      numBuckets: Int): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.ext.TextOps
    val spark = batch.sparkSession
    // bucket count is a store property — adopt the stamped count (the
    // [[BatchedStore]] note); numBuckets seeds new indexes only
    val buckets = TextOps.bm25StampedBuckets(spark, indexPath).getOrElse(numBuckets)
    TextOps.ensureBm25Marker(spark, indexPath, buckets)
    // layout guard: a one-shot materializeBm25Index table (top-level tb=
    // dirs) cannot absorb streamed ingest_batch= appends — the probe's
    // direct-dir read would silently never see them, and mixed children
    // break partition discovery. Refuse loudly instead of corrupting.
    val postingsBase = new Path(s"$indexPath/postings")
    val fs = postingsBase.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(
      !(fs.exists(postingsBase) &&
        fs.listStatus(postingsBase).exists(_.getPath.getName.startsWith("tb="))),
      s"BM25 index at $indexPath has the one-shot (tb=) layout of " +
        "materializeBm25Index — streamed maintenance cannot append to it. " +
        "Point bm25IndexMaintain at a fresh indexPath (and seed it by " +
        "replaying the corpus, or keep serving the one-shot artifact); " +
        "compactBm25Index is what re-arms block-max early termination " +
        "over a streamed index, never an in-place one-shot rebuild")
    // appended postings carry no block assignment: a previously-armed
    // sidecar (compactBm25Index) is stale the moment this batch lands —
    // disarm so probes full-scan until the next compaction re-arms
    TextOps.clearBm25BlockMax(spark, indexPath)
    val b = batch.cache()
    try {
      val tf = TextOps.bm25Postings(b, idCol, textCol)
        .withColumn("tb", pmod(xxhash64(col("term")), lit(buckets)).cast("int"))
        .cache()
      try {
        // the three partial writes are independent and all read the
        // cached tf/batch frames: run them concurrently so the trigger
        // pays the slowest write, not the sum ([[graft.Overlap.all]])
        Overlap.all(Seq(
          () => BatchedStore.writeBatch(
            tf, s"$indexPath/postings", batchId, "tb", Some(buckets)),
          () => BatchedStore.writeBatch(tf.groupBy("term", "tb").agg(count(lit(1)).as("df")),
            s"$indexPath/dict", batchId, "tb", Some(buckets)),
          () => TextOps.bm25StatsPartial(b, textCol)
            .write.mode("overwrite")
            .parquet(s"$indexPath/stats/ingest_batch=$batchId")))
      } finally { tf.unpersist(); () }
    } finally { b.unpersist(); () }
    ()
  }

  /** Streaming boilerplate removal at ingest — the ADMISSION form of
    * [[graft.ext.TextOps.boilerplateStrip]]: per micro-batch, arriving
    * documents' paragraphs are stripped when their CUMULATIVE distinct-
    * document frequency (all batches through this one) has reached
    * `minDocs`, and the frequency store advances by appending the
    * batch's own count partial. A subscribe footer starts surviving the
    * moment the crawl has seen it `minDocs` times and is stripped from
    * everything ingested after that point.
    *
    * SEMANTICS (documented, admission-style): occurrences ingested in
    * batches BEFORE a paragraph crossed the threshold stay — exactly
    * like [[hammingAdmitMaintain]]'s dup-after-first contract — and the
    * threshold test is BATCH-granular: if the crossing happens within a
    * batch, all of that batch's occurrences strip (cumulative count =
    * prior batches + the whole current batch). The one-shot
    * [[graft.ext.TextOps.boilerplateStrip]] is the periodic full
    * re-clean that also removes the pre-threshold stragglers. The
    * driver gate pins the cumulative-count contract in closed form.
    *
    * STORE LAYOUT — the BM25-dictionary mergeable-partial discipline:
    * `countsPath` holds one `(ph, n_docs)` partial per batch,
    * partitioned `ingest_batch` × `pb` (paragraph-hash bucket); global
    * counts are SUMS over partials (each document lives in exactly one
    * batch), so the store is append-only and never rewritten. A trigger
    * reads only the `pb` partitions its own paragraphs hash into
    * (bounded collect of touched buckets — the substring-store pruning)
    * and semi-joins its own paragraph keys, so per-trigger I/O is
    * O(batch + touched buckets), not O(store).
    *
    * REPLAY SAFETY: the probe reads prior counts at `ingest_batch <
    * batchId` and adds the batch's own partial computed fresh, so a
    * replayed batch sees exactly the same cumulative counts even though
    * the crashed attempt already wrote its partial; the partial and the
    * stripped output both OVERWRITE the batch's own partition. Layout
    * parameters (`minDocs`, separator, bucket count) are stamped in the
    * state marker and verified every trigger — drifting any of them
    * against an existing store is a hard error.
    */
  def boilerplateMaintain(
      docStream: DataFrame, // (idCol, textCol) per micro-batch
      countsPath: String,
      outPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      minDocs: Int,
      sep: String = "\n",
      numBuckets: Int = 16,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery =
    toForeachBatch(docStream, checkpoint, trigger) { (batch, batchId) =>
      boilerplateApplyBatch(
        batch, batchId, countsPath, outPath, idCol, textCol,
        minDocs, sep, numBuckets)
    }

  /** One micro-batch of [[boilerplateMaintain]] — package-visible for
    * the crash-replay spec and stress probes. Idempotent in `batchId`.
    * Returns the stripped-output frame it wrote (local-checkpointed
    * when `keepOutput` — the [[substringStripApplyBatch]] contract). */
  private[graft] def boilerplateApplyBatch(
      batch: DataFrame,
      batchId: Long,
      countsPath: String,
      outPath: String,
      idCol: String,
      textCol: String,
      minDocs: Int,
      sep: String,
      numBuckets: Int,
      keepOutput: Boolean = false): DataFrame = {
    val (kept, append) = boilerplateApplyBatchStaged(
      batch, batchId, countsPath, outPath, idCol, textCol,
      minDocs, sep, numBuckets, keepOutput)
    append()
    kept
  }

  /** [[boilerplateApplyBatch]] with the count-partial append staged —
    * the [[substringStripApplyBatchStaged]] contract. */
  private[graft] def boilerplateApplyBatchStaged(
      batch: DataFrame,
      batchId: Long,
      countsPath: String,
      outPath: String,
      idCol: String,
      textCol: String,
      minDocs: Int,
      sep: String,
      numBuckets: Int,
      keepOutput: Boolean): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.types.StringType
    import graft.ext.TextOps
    require(minDocs >= 2, "need minDocs >= 2 — minDocs=1 would strip everything")
    require(numBuckets >= 1, "need numBuckets >= 1")
    val spark = batch.sparkSession
    val buckets = Counts.open(spark, countsPath, numBuckets)(n =>
      s"boilerplate:minDocs=$minDocs:sep=${sep.##}:buckets=$n:v1")
    val paras = TextOps.paragraphs(batch, idCol, textCol, sep)
      .withColumn("pb", Counts.bucket(buckets))
      .cache()
    def cleanup(): Unit = { paras.unpersist(); () }
    try {
      val own = paras.groupBy("ph", "pb").agg(countDistinct(col("doc_id")).as("n_docs"))
      // replay filter: a re-run batch must see the PRE-batch counts even
      // if the crashed attempt already wrote its own partial
      val prior = Counts
        .read(spark, countsPath, Counts.schema(StringType), batchId, Counts.touched(paras, buckets))
        .join(paras.select("ph").distinct(), Seq("ph"), "left_semi")
        .groupBy("ph").agg(sum(col("n_docs")).as("n_prior"))
      val boiler = own
        .join(prior, Seq("ph"), "left_outer")
        .where(coalesce(col("n_prior"), lit(0L)) + col("n_docs") >= minDocs)
        .select(col("ph"), lit(true).as("is_boiler"))
      val out = TextOps.reassembleStripped(paras.join(boiler, Seq("ph"), "left"), sep)
      // keepOutput (the composed pipeline): EAGER checkpoint — the
      // stage's compute runs here, once, and BOTH parquet writes (output
      // partition + store append) leave the critical path as deferred
      // I/O over the materialized blocks
      val kept = if (keepOutput) out.localCheckpoint(eager = true) else out
      (kept, Counts.stagedAppend(kept, outPath, own, countsPath, batchId, Some(buckets))(
        () => cleanup()))
    } catch { case e: Throwable => cleanup(); throw e }
  }

  /** The FULL ingest recipe as ONE stream — the production composition
    * every stage maintainer exists for, per micro-batch, in one
    * foreachBatch against five stored states:
    *
    *   1. paragraph boilerplate strip ([[boilerplateApplyBatch]] —
    *      cumulative count store advances),
    *   2. exact-substring dedup + strip on the cleaned text
    *      ([[substringStripApplyBatch]] — gram store advances),
    *   3. winnowing fuzzy-text admission on the fully cleaned text
    *      ([[winnowAdmitApplyBatch]] — fingerprint store advances);
    *      documents flagged `dup_snapshot`/`dup_batch` leave the
    *      pipeline,
    *   4. perceptual (Hamming) admission on the surviving documents'
    *      64-bit sketches ([[hammingAdmitApplyBatch]] — banded store
    *      advances with the fed survivors),
    *   5. semantic admission of the survivors' embeddings against a
    *      FIXED stored reference index
    *      ([[graft.ext.Dedup.semanticAdmitStored]]) — the
    *      decontamination-screen shape: the reference (eval) index does
    *      NOT grow with ingest, so cross-batch semantic duplicates of
    *      admitted rows stay `new` by design while within-batch pairs
    *      still flag `dup_batch`.
    *
    * Boilerplate runs FIRST because the substring stripper reassembles
    * kept tokens with single spaces (paragraph boundaries would not
    * survive it). Output, one row per INPUT document in the batch's own
    * `ingest_batch=` partition of `<storeRoot>/admitted`:
    * `(doc_id, final_text, winnow_status, perceptual_status,
    * semantic_status, admitted)` — later stages read `skipped` when an
    * earlier stage dropped the document.
    *
    * Replay safety is inherited stage-wise: every sub-step is
    * idempotent in `batchId` (probes filter `ingest_batch < batchId`,
    * writes overwrite their own partition), the semantic screen is
    * stateless, and the final admissions table overwrites the batch's
    * own partition — so redelivering a crashed batch reproduces
    * identical state and output. Per-trigger work is the SUM of the
    * stages' own O(batch + touched buckets/cells) costs; no stage
    * rescans a store.
    */
  def ingestPipelineMaintain(
      docStream: DataFrame, // (idCol, textCol, sketchCol, embCol) per micro-batch
      storeRoot: String,
      semanticIndexPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      sketchCol: String,
      embCol: String,
      k: Int = 10,
      minDocsBoiler: Int = 5,
      w: Int = 4,
      windowSize: Int = 3,
      minShared: Int = 3,
      maxDf: Long = 8L,
      radius: Int = 11,
      threshold: Double = 0.9,
      numBuckets: Int = 16,
      hashKey: Boolean = true,
      portable: Boolean = false,
      shuffleWidth: Int = 8,
      trigger: Trigger = DefaultTrigger
  ): StreamingQuery =
    toForeachBatch(docStream, checkpoint, trigger) { (batch, batchId) =>
      ingestPipelineApplyBatch(
        batch, batchId, storeRoot, semanticIndexPath,
        idCol, textCol, sketchCol, embCol,
        k, minDocsBoiler, w, windowSize, minShared, maxDf,
        radius, threshold, numBuckets, hashKey, portable, shuffleWidth)
    }

  /** Micro-batch row threshold above which [[ingestPipelineApplyBatch]]
    * keeps the SESSION's shuffle width instead of the `shuffleWidth`
    * micro-batch override: at ~2 KB/doc this is ~200 MB of batch text —
    * the point where 8-task shuffles stop being scheduling savings and
    * start being a parallelism cap (and per-task spill risk) for
    * backlog/backfill triggers.
    */
  private[graft] val MicroBatchWidthRows = 100000L

  /** The trigger's effective shuffle width: the micro-batch override for
    * cadence-sized batches, the session's own width for backlog-sized
    * ones (never below the override — a session narrower than the
    * override gains nothing by shrinking further).
    */
  private[graft] def pipelineWidthFor(
      batchRows: Long, shuffleWidth: Int, sessionWidth: Int): Int =
    if (batchRows > MicroBatchWidthRows) math.max(shuffleWidth, sessionWidth)
    else shuffleWidth

  /** One micro-batch of [[ingestPipelineMaintain]] — package-visible for
    * the crash-replay spec and stress probes. Idempotent in `batchId`
    * because every composed sub-step is.
    */
  private[graft] def ingestPipelineApplyBatch(
      batch: DataFrame,
      batchId: Long,
      storeRoot: String,
      semanticIndexPath: String,
      idCol: String,
      textCol: String,
      sketchCol: String,
      embCol: String,
      k: Int,
      minDocsBoiler: Int,
      w: Int,
      windowSize: Int,
      minShared: Int,
      maxDf: Long,
      radius: Int,
      threshold: Double,
      numBuckets: Int,
      hashKey: Boolean,
      portable: Boolean,
      shuffleWidth: Int = 8): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(
      col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"),
      col(sketchCol).cast("long").as("__hh"),
      col(embCol).as("__emb")).cache()
    // every stage WRITES its batch partition (that write IS the
    // replay-safe state + lineage record) but the next stage consumes
    // the LOCAL-CHECKPOINTED in-memory frame the write was produced
    // from — the stage outputs are already in memory at write time, so
    // re-reading each freshly written partition from parquet was five
    // pure-overhead round-trips per trigger. localCheckpoint, NOT
    // cache: a cache keeps the full logical plan, so each stage's plan
    // would nest every prior stage's and the final five-way join's
    // ANALYSIS cost explodes (measured: the composed gate went
    // 15 s → 10+ min on cache); the checkpoint truncates lineage to the
    // materialized blocks — exactly what the parquet read-back used to
    // provide, without the round-trip. Blocks are reclaimed by the
    // ContextCleaner when the trigger's frames go out of scope; a lost
    // executor fails the trigger and foreachBatch redelivers it, which
    // every stage absorbs idempotently (the replay contract above).
    //
    // PER-TRIGGER FLOOR = the critical path's sequential job count,
    // per-job launch cost rather than data. Only the DOC FLOW is
    // sequential (boilerplate → gram → winnow, then the perceptual and
    // semantic finalize; stage N+1 reads stage N's checkpointed output),
    // and it runs first. Each text stage EAGERLY checkpoints its output,
    // so its compute runs once, there; the output-partition writes and
    // store appends are forked as I/O over the materialized blocks. The
    // ORDER of submission matters: Spark's default scheduler is FIFO, so
    // a job submitted earlier takes the cores first, and a store append
    // forked ahead of a text stage starves that stage's short jobs
    // (measured on `local[2]`: one 19 ms winnow job took 539 ms of wall
    // behind two appends, and stage 3 took 2.72 s instead of 1.01 s). The
    // three text-store appends are therefore forked after stage 3's
    // checkpoint, where they overlap only the short finalize tail; the
    // ham append, sstat and the admitted table follow as their inputs
    // land. Moving every write behind the semantic checkpoint instead was
    // slower (trigger 5.71 s against 5.45 s): each append takes 1.3-1.7 s
    // and then sits alone on the barrier. The trigger commits only after
    // every fork completes; the overlap scope rethrows the first failure
    // so foreachBatch fails and redelivers, which each stage absorbs
    // idempotently. Critical path: 3 × (touched-collect + checkpoint
    // compute) + the two finalize checkpoints + the slowest deferred write.
    // Batch-scoped shuffle width: every frame this trigger shuffles is
    // batch-sized (the maintainer contract — a 5 s poll cadence
    // delivers micro-batches), so a session width sized for
    // corpus-scale queries (32 here, 200 by default) makes each of the
    // trigger's ~dozen sequential shuffle stages pay 32-200 near-empty
    // tasks of pure scheduling overhead — measured ~4.9 s → ~4.6 s per
    // trigger at width 8 on a 5k-doc batch (and AQE coalesces below it
    // where a stage's output is tiny; disabling AQE instead was
    // measured SLOWER, 5.8 s — its per-stage job overhead is cheaper
    // than the un-coalesced task count it removes). `shuffleWidth` is
    // the deployment's expected-trigger-volume dial; the one-off
    // corpus-sized seed feed passes the session's own width. Store
    // layouts are width-independent — every store append repartitions
    // by its explicit bucket column count. foreachBatch hands the
    // stream's own cloned session, so the override never leaks into
    // concurrent queries.
    // ... but the override is scaled by the batch's ACTUAL volume: a
    // genuinely large trigger (Trigger.AvailableNow draining a backlog,
    // a bursty source, a backfill replay) through 8 tasks is capped
    // parallelism and per-task OOM risk, so past the micro-batch row
    // threshold the trigger keeps the session's own width. The count
    // that decides it runs AFTER the speculative probe legs launch (it
    // overlaps their jobs and doubles as the batch cache's first
    // materialization), and the probe legs themselves are
    // width-indifferent — off the critical path, batch-sized shuffles.
    val probeCleanups = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    val sessionWidth =
      spark.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt)
        .getOrElse(spark.sparkContext.defaultParallelism)
    // micro-batch width override BEFORE the probe legs launch: the legs
    // run queries on the shared session, and setting the override after
    // they start meant a probe plan picked up EITHER the session width or
    // the override depending on thread timing (results unaffected —
    // batch-sized shuffles — but probe wall and the width story were
    // nondeterministic). Setting it here makes every probe plan
    // deterministically a micro-batch plan; the backlog escalation below
    // can only RAISE the width for the doc-flow stages once the
    // overlapped count lands (a backlog trigger's probe legs keep the
    // micro-batch width — AQE re-splits their oversized shuffles, and the
    // legs are off the critical path either way). The overlap scope nests
    // INSIDE the override: every query this trigger forks — probe legs
    // and deferred writes — has drained before the width is restored.
    val microWidth = "spark.sql.shuffle.partitions" -> shuffleWidth.toString
    try withConf(spark, microWidth)(Overlap.scope { s =>
      // Stages 4 and 5 probe SPECULATIVELY on the FULL batch, launched
      // here so they run concurrent with the boiler→gram→winnow doc
      // flow: the perceptual and semantic probes read b's sketch and
      // embedding columns directly — nothing in their expensive work
      // (stored-index probe, within-batch pairing, seed assignment)
      // depends on the text stages' survivor set; only the RESTRICTION
      // of their outputs does, and both hit predicates are pointwise
      // (snapshot hits) or pairwise (in-batch pairs), so probing the
      // full batch and post-filtering both pair endpoints to survivors
      // is exactly the survivors-only probe (Dedup.semanticProbePhase /
      // hammingSnapshotHitIds scaladoc). Wall-clock the concurrency is
      // ~free: the width-8 text stages leave most of the executor idle.
      // The critical path drops from five sequential stage constants to
      // three plus two cheap post-join checkpoints.
      val hamProbe = s.fork {
        val bandedIndex = readHammingStore(
          spark, s"$storeRoot/ham", batchId, radius, blocks = 4, probeBits = 2)
        val bb = b.select(col("doc_id"), col("__hh"))
        val snap = graft.ext.Dedup
          .hammingSnapshotHitIds(bandedIndex, bb, "doc_id", "__hh", radius, 4, 2)
          .localCheckpoint(true)
        val pairs = graft.ext.Dedup
          .hammingNearDupPairs(bb, "doc_id", "__hh", radius, 4, 2)
          .select("id_a", "id_b")
          .localCheckpoint(true)
        (snap, pairs)
      }
      val semProbe = s.fork {
        val (assigned, snapIds, pairIds, cleanup) = graft.ext.Dedup
          .semanticProbePhaseStored(
            spark, semanticIndexPath,
            b.select(col("doc_id"), col("__emb")), "doc_id", "__emb", threshold)
        probeCleanups.add(cleanup)
        val snap = snapIds.localCheckpoint(true)
        val pairs = pairIds.localCheckpoint(true)
        (assigned, snap, pairs)
      }
      // backlog escalation AFTER the probe legs launch: the count job
      // (the cached batch's first materialization) overlaps their probe
      // jobs instead of preceding everything. Only the doc-flow stages
      // planned from here on see a raised width.
      val bCount = b.count()
      val effectiveWidth = pipelineWidthFor(bCount, shuffleWidth, sessionWidth)
      if (effectiveWidth != shuffleWidth)
        spark.conf.set("spark.sql.shuffle.partitions", effectiveWidth.toString)
      // 1. boilerplate strip (cumulative count store). keepOutput=true:
      // computed once, at its checkpoint, which stage 2 and the clean1
      // write read. Handed to stage 2 lazily instead (stage 2's
      // checkpoint computing boiler + gram in one job), the deferred
      // append re-ran the whole stage through the lazy frame: 9 jobs
      // over 2.35 s beside stage 3, and 5 more jobs per trigger in all
      // (113 against 108).
      val (clean1Raw, bpAppend) = boilerplateApplyBatchStaged(
        b.select("doc_id", "text"), batchId,
        s"$storeRoot/counts", s"$storeRoot/clean1", "doc_id", "text",
        minDocsBoiler, "\n", numBuckets, keepOutput = true)
      val clean1 = clean1Raw.select(col("doc_id"), col("stripped_text").as("text"))
      // the text stages' deferred appends are forked once stage 3 has
      // checkpointed (FIFO, above), and also when stage 2 or 3 throws:
      // each append owns its stage's cache release, the scope settles it
      // before the failure is rethrown, and its writes are replay-safe
      val textAppends = scala.collection.mutable.ArrayBuffer(bpAppend)
      val (clean2, wstat) = try {
        // 2. exact-substring dedup + strip (gram store)
        // probe-broadcast hint from the count the width step already ran
        // NOTE (r19, measured): extending the lazy handoff one stage
        // deeper — keepOutput=false here with a pipeline-level cache, so
        // stage 3's checkpoint computes boiler+gram+winnow in ONE job —
        // was tried and LOST ~0.9 s/trigger even with explicit broadcast
        // hints restoring the join strategies (fused stage-3 job 4.3-4.9 s
        // vs 2.2 + 1.8 s split, sf0.1 gate, same window): the heavy gram
        // compute migrates into the winnow probe's broadcast-exchange
        // jobs, serializing what the eager checkpoint ran as one wide
        // job, and the un-materialized cache denies the planner the exact
        // output stats the checkpoint provides. The stage boundary costs
        // one ~0.15 s job launch; the lazy handoff costs more. Guide §1.1
        // empirical loop — the checkpoint stays.
        val (clean2Raw, gramAppend) = substringStripApplyBatchStaged(
          clean1, batchId, s"$storeRoot/gram", s"$storeRoot/clean2",
          k, hashKey, numBuckets, keepOutput = true,
          broadcastProbe = Some(bCount <= graft.ext.Dedup.ProbeBroadcastMaxBatchRows))
        textAppends += gramAppend
        val clean2 = clean2Raw.select(col("doc_id"), col("stripped_text"))
        // 3. winnowing fuzzy-text admission (fingerprint store)
        val (wstatRaw, winAppend) = winnowAdmitApplyBatchStaged(
          clean2.select(col("doc_id"), col("stripped_text").as("text")), batchId,
          s"$storeRoot/win", s"$storeRoot/wstat", "doc_id", "text",
          w, windowSize, minShared, maxDf, numBuckets, portable, keepOutput = true,
          broadcastProbe = Some(bCount <= graft.ext.Dedup.ProbeBroadcastMaxBatchRows))
        textAppends += winAppend
        (clean2, wstatRaw.select(col("id").as("doc_id"), col("status").as("winnow_status")))
      } finally textAppends.foreach(append => s.fork(append()))
      val surv3 = wstat.where(col("winnow_status") === "new").select("doc_id")
      // 4. perceptual admission FINALIZE: restrict the speculative
      // full-batch artifacts to the winnow survivors — snapshot hits are
      // pointwise (filter the rows), in-batch pairs need BOTH endpoints
      // surviving (a pair whose earlier doc was winnow-killed never
      // existed in the survivors-only probe). Output rows, statuses and
      // the store append are bit-identical to running the staged stage
      // on the survivor set.
      val (hamSnap, hamPairs) = s.await(hamProbe)
      val hamBatchHit = hamPairs
        .join(surv3.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
        .join(surv3.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
        .select(col("id_b").as("id"))
        .distinct()
        .withColumn("__batch", lit(true))
      // eager checkpoint: three consumers (deferred hstat write, the
      // sstat compose, the deferred admitted join) — measured, letting
      // each recompute these joins lazily cost MORE than the one
      // checkpoint job (sem finalize 0.07→0.45 s, barrier 0.3→0.5 s)
      val hstatRaw = b.join(surv3, Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("id"), col("__hh"))
        .join(hamSnap.withColumn("__snap", lit(true)), Seq("id"), "left_outer")
        .join(hamBatchHit, Seq("id"), "left_outer")
        .select(
          col("id"),
          col("__hh"),
          when(col("__snap"), lit("dup_snapshot"))
            .when(col("__batch"), lit("dup_batch"))
            .otherwise(lit("new"))
            .as("status"))
        .localCheckpoint(eager = true)
      // two independent deferred writes (disjoint tables), not one
      // sequential thunk — the barrier pays the slower, not the sum
      s.fork {
        hstatRaw.write.mode("overwrite").parquet(s"$storeRoot/hstat/ingest_batch=$batchId")
      }
      s.fork {
        // index advance: the SURVIVORS' banded rows (the staged stage's
        // append contract — non-survivors never reach the store)
        BatchedStore.writeBatch(
          graft.ext.Dedup.hammingIndexBanded(
            b.join(surv3, Seq("doc_id"), "left_semi").select(col("doc_id"), col("__hh")),
            "doc_id", "__hh", blocks = 4),
          s"$storeRoot/ham", batchId, Ham.bucketCol, width = None)
      }
      val hstat = hstatRaw
        .select(col("id").as("doc_id"), col("status").as("perceptual_status"))
      val surv4 = hstat.where(col("perceptual_status") === "new").select("doc_id")
      // 5. semantic screen FINALIZE — same restriction, against the
      // stage-4 survivors. EAGER checkpoint so the two tail writes below
      // run CONCURRENTLY over materialized blocks; the probe leg's
      // assignment cache is released right after.
      val (semAssigned, semSnap, semPairs) = s.await(semProbe)
      val semBatchHit = semPairs
        .join(surv4.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
        .join(surv4.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
        .select(col("id_b").as("id"))
        .distinct()
        .withColumn("__batch", lit(true))
      val sstat = semAssigned
        .join(surv4.select(col("doc_id").as("id")), Seq("id"), "left_semi")
        .join(semSnap.withColumn("__snap", lit(true)), Seq("id"), "left_outer")
        .join(semBatchHit, Seq("id"), "left_outer")
        .select(
          col("id").as("doc_id"),
          when(col("__snap"), lit("dup_snapshot"))
            .when(col("__batch"), lit("dup_batch"))
            .otherwise(lit("new"))
            .as("semantic_status"))
        .localCheckpoint(eager = true)
      // assignment cache no longer referenced — sstat is materialized
      probeCleanups.forEach(c => c())
      probeCleanups.clear()
      s.fork(
        sstat.write.mode("overwrite").parquet(s"$storeRoot/sstat/ingest_batch=$batchId"))
      val admitted = b.select("doc_id")
        .join(clean2, Seq("doc_id"), "left_outer")
        .join(wstat, Seq("doc_id"), "left_outer")
        .join(hstat, Seq("doc_id"), "left_outer")
        .join(sstat, Seq("doc_id"), "left_outer")
        .select(
          col("doc_id"),
          coalesce(col("stripped_text"), lit("")).as("final_text"),
          col("winnow_status"),
          coalesce(col("perceptual_status"), lit("skipped")).as("perceptual_status"),
          coalesce(col("semantic_status"), lit("skipped")).as("semantic_status"),
          (col("winnow_status") === "new" &&
            coalesce(col("perceptual_status"), lit("skipped")) === "new" &&
            coalesce(col("semantic_status"), lit("skipped")) === "new").as("admitted"))
      s.fork(
        admitted.write.mode("overwrite")
          .parquet(s"$storeRoot/admitted/ingest_batch=$batchId"))
      // the scope's exit is the commit barrier: a "committed" batch must
      // not miss store partitions or outputs its probes and consumers read
    }) finally {
      // every fork has settled; release any probe-leg caches the success
      // path never got to (on success the queue is already empty)
      probeCleanups.forEach(c => try c() catch { case _: Throwable => () })
      probeCleanups.clear()
      b.unpersist()
    }
    ()
  }

  /** Offline compaction for the BATCH-pipeline winnowing artifact's
    * append table ([[graft.ext.Dedup.appendWinnowIndex]] with a stable
    * `appendId`): fold every `apost/aseq ≤ upToSeq` partition into ONE
    * `aseq=<upToSeq>` partition, fb-clustered. The probe
    * ([[graft.ext.Dedup.winnowAdmitStored]]) reads posts ∪ apost as a
    * bag with `aseq` projected away, so the relabel changes no
    * decision — it reclaims exactly the one-directory-per-append
    * listing growth a long-running admission loop accumulates (the
    * `winnow_probe_frag` wall story, on the apost axis). Same staged /
    * crash-resume / run-between-appends contract as every compactor:
    * `upToSeq` must be STRICTLY below the next appendId the loop will
    * use (a retried append overwrites its own `aseq` partition — one
    * folded INTO the compaction target would instead double its rows,
    * and the probe-side df cap counts rows). A periodic
    * [[graft.ext.Dedup.writeWinnowIndex]] rebuild remains the heavier
    * reclaim that also re-drops hot fingerprints physically.
    */
  def compactWinnowAppendStore(
      spark: SparkSession,
      indexPath: String,
      upToSeq: Long
  ): Unit =
    // no re-bucketing here: apost must share the posts table's bucket
    // count (ONE touched set prunes both), and posts is only rewritten
    // by a writeWinnowIndex rebuild — which is the batch artifact's
    // documented heavy reclaim
    Win.compactOn(spark, s"$indexPath/apost", upToSeq, None, batchCol = "aseq")

  /** Offline compaction for the [[bm25IndexMaintain]] index — all three
    * sub-tables, each with its own staged fold (concurrent and
    * individually crash-resumable): postings are per-document facts
    * (concatenation, clustered onto `tb`), dictionary rows are per-batch
    * `(term, df)` partials the probe sums (fold = sum per term — this is
    * the multiplicative win: a term seen in k batches folds from k dict
    * rows to one), and stats are `(n, sum_dl)` partials (fold = one
    * row). [[graft.ext.TextOps.bm25TopKStored]] sums partials wherever
    * they came from, so probe results are bit-identical across any
    * compaction schedule.
    *
    * THE FOLD IS ALSO THE BLOCK-MAX RE-ARM: streamed appends carry no
    * impact-block assignment, so a long-running ingest deployment would
    * otherwise never get early termination without an offline
    * [[graft.ext.TextOps.materializeBm25Index]] rebuild (which cannot
    * share a path with the maintainer — its one-shot layout refuses
    * further appends). The postings fold already rewrites every posting
    * ≤ `upToBatch`, so assigning `blk` inside it is free of extra scans;
    * the `(max_tf, min_dl, n_rows)` sidecar then folds off the compacted
    * postings and the marker is armed LAST. The next streamed append
    * DISARMS it again ([[bm25IndexApplyBatch]]) — armed between
    * compaction and the stream's restart, every probe early-terminates
    * with the certificate's bit-identical output; after appends resume,
    * probes full-scan until the next maintenance window.
    *
    * The sidecar is armed only when NO partition above `upToBatch`
    * remains (a crashed uncommitted batch's partial would carry
    * unblocked postings the block filter would silently hide); such a
    * leftover keeps the index on the full-scan path, and its replay
    * disarms anyway.
    */
  def compactBm25Index(
      spark: SparkSession,
      indexPath: String,
      upToBatch: Long,
      blockSize: Int = 4096
  ): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.ext.TextOps
    require(blockSize >= 1, "need blockSize >= 1")
    // disarm FIRST: the folds below rewrite the tables an armed sidecar
    // describes; probes must full-scan from this point until the re-arm
    TextOps.clearBm25BlockMax(spark, indexPath)
    // build-time avgdl for the impact ORDER (validity is per-block
    // bounds, not order) — folded from the same partials the stats fold
    // below merges, so a crash-resumed fold re-derives the same value
    val statsRow = spark.read.parquet(s"$indexPath/stats")
      .where(col("ingest_batch") <= upToBatch)
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"))
      .head()
    val foldAvgdl =
      if (statsRow.getLong(0) == 0L) 1.0
      else statsRow.getLong(1).toDouble / statsRow.getLong(0).toDouble
    // the three table folds are INDEPENDENT (each stages in its own
    // `.compact` dir with its own META/resume protocol, deletes only its
    // own partitions) — run dict and stats concurrently with the
    // postings fold + sidecar chain; a crash mid-parallel leaves each
    // table in a state its own re-run resolves, exactly as a crash
    // between sequential folds did. No fold outlives this call (a retried
    // compaction must never race an orphan on the same `.compact` staging
    // dir), the postings chain goes first so its failure wins, and the
    // marker stays LAST, after every fold has committed.
    var armed = false
    Overlap.all(Seq(
      () => {
        BatchedStore.compactTable(spark, s"$indexPath/postings", upToBatch, Seq("tb"))(df =>
          TextOps.bm25AssignBlocks(
              df.select("doc_id", "dl", "term", "tf", "tb"), foldAvgdl, blockSize)
            .repartition(col("tb"))
            .sortWithinPartitions("term", "blk"))
        armed = !Marker.fs(spark, indexPath).listStatus(new Path(s"$indexPath/postings"))
          .map(_.getPath.getName)
          .filter(_.startsWith("ingest_batch="))
          .map(_.stripPrefix("ingest_batch=").toLong)
          .exists(_ > upToBatch)
        if (armed)
          TextOps.bm25BlockSidecar(spark.read.parquet(s"$indexPath/postings"))
            .select("term", "blk", "max_tf", "min_dl", "n_rows", "tb")
            .repartition(col("tb"))
            .sortWithinPartitions("term", "blk")
            .write.mode("overwrite").partitionBy("tb").parquet(s"$indexPath/blockmax")
      },
      () => BatchedStore.compactTable(spark, s"$indexPath/dict", upToBatch, Seq("tb"))(
        _.groupBy("term", "tb").agg(sum(col("df")).as("df"))
          .select("term", "df", "tb").repartition(col("tb"))),
      () => BatchedStore.compactTable(spark, s"$indexPath/stats", upToBatch, Seq.empty)(
        _.agg(
          coalesce(sum(col("n")), lit(0L)).as("n"),
          coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl")).coalesce(1))))
    if (armed)
      TextOps.writeBm25BlockMaxMarker(spark, indexPath, blockSize)
  }

  /** Batch-directory count past which [[maintainStores]] (at
    * `minBatchDirs = FragmentationFoldBound`) folds a store: the
    * measured fragmentation cliff (`winnow_probe_frag`: 2.98 → 30.66 s
    * at ~100 → ~1000 dirs) sets in well past this, so a maintenance
    * loop gating on it keeps probe cost within ~2× of the compacted
    * floor between folds while skipping folds that would only rewrite
    * an already-compact store. */
  val FragmentationFoldBound: Int = 64

  /** Rows per hash bucket past which a fold re-buckets the store to the
    * next power of two (buckets ∝ corpus — the [[BatchedStore]]
    * adoption note): touched-bucket BYTES per probe stay bounded as the
    * corpus grows instead of growing ∝ N under a build-time-frozen
    * bucket count. */
  val RebucketRowsPerBucket: Long = 512L * 1024L

  /** The maintenance entry point the per-store compactors plug into —
    * the streaming analogue of the reference's scheduled
    * `add_retention_policy` chore (carlospsikick/timescale-cdc
    * init.sql:71): fold every store that exists under the
    * [[ingestPipelineMaintain]] `storeRoot` layout (`counts`, `gram`,
    * `win`, `ham` — a partial layout, e.g. a standalone
    * [[winnowAdmitMaintain]] deployment, compacts just what it has),
    * plus an optional [[bm25IndexMaintain]] index. Returns the store
    * names compacted, for the caller's maintenance log.
    *
    * Fragmentation gate: only stores whose batch-dir count reached
    * `minBatchDirs` are folded (1 = always). A deployment calls this at
    * every maintenance window with [[FragmentationFoldBound]] — the
    * check is one file listing, so the windows where nothing needs
    * folding cost nothing and a long-running ingest never walks off the
    * measured fragmentation cliff.
    *
    * Per-batch OUTPUT tables (`clean1`, `clean2`, `wstat`, `hstat`,
    * `sstat`, `admitted`) are deliberately NOT folded: they are the
    * pipeline's delivered facts, never probed as state, and their
    * retention is the consumer's policy ([[graft.log.CdcLog]]-style
    * expiry), not a probe-cost concern.
    */
  def maintainStores(
      spark: SparkSession,
      storeRoot: String,
      upToBatch: Long,
      bm25IndexPath: Option[String],
      minBatchDirs: Int): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val fs = Marker.fs(spark, storeRoot)
    def fragmented(path: String): Boolean =
      fs.listStatus(new Path(path))
        .count(_.getPath.getName.startsWith("ingest_batch=")) >= minBatchDirs
    // buckets ∝ corpus: when the mean bucket's row count crosses
    // RebucketRowsPerBucket, the fold re-buckets to the next power of
    // two and re-stamps the marker (probes and maintainers adopt it)
    def rebucketTarget(path: String): Option[Int] =
      BatchedStore.stampedBuckets(spark, path).flatMap { cur =>
        val rows = spark.read.parquet(path).count()
        if (rows <= cur.toLong * RebucketRowsPerBucket) None
        else {
          var n = math.max(cur, 1)
          while (n.toLong * RebucketRowsPerBucket < rows && n < (1 << 20)) n *= 2
          Some(n).filter(_ > cur)
        }
      }
    BatchedStore.Ingest.flatMap { store =>
      val path = s"$storeRoot/${store.name}"
      if (!Marker.exists(spark, path) || !fragmented(path)) None
      else { store.compact(spark, path, upToBatch, rebucketTarget(path)); Some(store.name) }
    } ++ bm25IndexPath.map { p => compactBm25Index(spark, p, upToBatch); "bm25" }
  }

  /** Checkpoint-derived [[maintainStores]]: `upToBatch` is the newest
    * batch id with a COMMIT in the stream's checkpoint. Everything at or
    * below it is fully written state; the only batch a restart can
    * replay is `last + 1`, whose probes filter `ingest_batch < last + 1`
    * — a bound the relabel-to-`last` fold never crosses. Run it while
    * the stream is STOPPED (between a `StreamingQuery.stop()` and the
    * restart — the run-while-stopped contract of every compactor); a
    * no-commit checkpoint is a no-op.
    */
  def maintainStores(
      spark: SparkSession,
      storeRoot: String,
      checkpoint: String,
      bm25IndexPath: Option[String] = None,
      minBatchDirs: Int = 1): Seq[String] =
    lastCommittedBatch(spark, checkpoint) match {
      case Some(upTo) =>
        maintainStores(spark, storeRoot, upTo, bm25IndexPath, minBatchDirs)
      case None => Seq.empty
    }

  /** Newest batch id with a commit marker in a streaming checkpoint —
    * the largest `upToBatch` the compactors may safely fold (see
    * [[maintainStores]]). None when the checkpoint has no commits yet.
    */
  private[graft] def lastCommittedBatch(
      spark: SparkSession, checkpoint: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val commits = new Path(s"$checkpoint/commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(commits)) None
    else
      fs.listStatus(commits)
        .map(_.getPath.getName)
        .filter(_.forall(_.isDigit))
        .map(_.toLong)
        .reduceOption(_ max _)
  }

  /** Stream-stream inner join on `keys` with a bounded event-time
    * interval: right rows within `(left.ts - lookback, left.ts]`. Both
    * sides carry watermarks so Spark can evict join state — without the
    * time bound + watermarks a stream-stream join buffers both streams
    * FOREVER; with them, state is bounded by (watermark + lookback) of
    * data per key, which is what makes this runnable on an unbounded
    * 100 TB/day feed. Left columns keep their names; right columns are
    * prefixed to avoid collisions (the same contract as
    * [[graft.operators.RangeJoin.within]]).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      lookback: String,
      watermark: String,
      rightPrefix: String = "r_"
  ): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    // non-key right columns get the prefix; keys keep their names
    val r = right.columns
      .filterNot(keys.contains)
      .foldLeft(right)((df, c) => df.withColumnRenamed(c, rightPrefix + c))
      .withWatermark(rightPrefix + tsCol, watermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val rangeCond =
      r(rightPrefix + tsCol) > l(tsCol) - expr(s"INTERVAL $lookback") &&
        r(rightPrefix + tsCol) <= l(tsCol)
    keys.foldLeft(l.join(r, keyCond && rangeCond, "inner"))((df, k) => df.drop(r(k)))
  }
}
