package perfbench

import java.io.File
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.capture.{CdcApply, CdcCapture}
import graft.ext.Dedup
import graft.log.CdcLog
import graft.model.ChangeEvent
import graft.sink.JsonEnvelope
import graft.sources.TopicSource
import graft.streaming.CdcStream
import graft.views.EventViews

/** What every workload shares: the session, the recorder, the layer
  * listener of a traced run, the seed and the input sizes.
  */
final class Ctx(
    val spark: SparkSession,
    val rec: Recorder,
    val layers: Option[LayerListener],
    val seed: Long,
    val sizes: Sizes,
    val fault: Boolean,
    val cores: Int)

/** One timed operation: its wall time and its latency (the time a user
  * waits for its result; for a round or a trigger the two are equal).
  */
final case class OpTiming(wallNs: Long, latencyNs: Long)

/** One client thread drives a workload in a closed loop: `op(i)` returns
  * only when its result is visible, then `verify(i)` checks that result
  * outside the timed part. `items(i)` is the work op i delivered (change
  * events or documents) and `perOp(i)` its per-layer figures.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx._

  def warmupOps: Int
  def maxOps: Int
  def setup(dir: String): Unit
  def op(i: Int): OpTiming
  def verify(i: Int): Boolean
  /** Checks that need the whole run; returns the ops found wrong, where a
    * warm-up op or -1 (set-up) fails the whole run.
    */
  def verifyEnd(): Set[Int] = Set.empty
  /** Bytes the workload keeps on disk: log, topic, checkpoint and store. */
  def diskBytes(): Long
  /** End-of-run per-layer figures that are not per-operation. */
  def endLayers(): Map[String, Double] = Map.empty
  def teardown(): Unit = spark.streams.active.foreach(_.stop())

  val items = mutable.Map.empty[Int, Long]
  val perOp = mutable.Map.empty[Int, mutable.Map[String, Double]]
  protected def put(i: Int, kv: (String, Double)*): Unit =
    perOp.getOrElseUpdate(i, mutable.Map.empty) ++= kv

  // ---- helpers shared by the workloads -----------------------------------

  private val nanoMinusEpochNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Triggers that processed data: their start (epoch ms), phase durations
    * and input rows.
    */
  final case class Trig(startMs: Long, durations: Map[String, Long], rows: Long, batchId: Long)

  protected def triggers(ps: Seq[StreamingQueryProgress]): Seq[Trig] =
    ps.filter(p => p.durationMs.containsKey("addBatch")).map { p =>
      Trig(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, p.batchId)
    }

  /** Records the triggers' phases as spans and their per-trigger means as
    * per-layer figures of op i.
    */
  protected def recordTriggers(i: Int, ts: Seq[Trig], commitEndMs: Long): Unit = {
    def mean(f: Trig => Double): Double = if (ts.isEmpty) 0.0 else ts.map(f).sum / ts.size
    def d(t: Trig, k: String): Double = t.durations.getOrElse(k, 0L).toDouble
    put(i,
      "stream.triggers" -> ts.size.toDouble,
      "stream.trigger_ms" -> mean(d(_, "triggerExecution")),
      "stream.wal_commit_ms" -> mean(t => d(t, "walCommit") + d(t, "commitOffsets")),
      "stream.wait_ms" -> ts.headOption.map(t => math.max(0L, t.startMs - commitEndMs).toDouble).getOrElse(0.0),
      "poll.latest_offset_ms" -> mean(d(_, "latestOffset")),
      "poll.plan_ms" -> mean(t => d(t, "getBatch") + d(t, "queryPlanning")),
      "poll.rows_read" -> ts.map(_.rows).sum.toDouble,
      "sink.add_batch_ms" -> mean(d(_, "addBatch")))
    if (rec.traced) ts.foreach { t =>
      val start = t.startMs * 1000000L + nanoMinusEpochNs
      rec.external("stream.trigger", start, start + t.durations.getOrElse("triggerExecution", 0L) * 1000000L)
      var at = start
      Seq("latestOffset" -> "poll.latest_offset", "walCommit" -> "stream.wal_commit",
        "getBatch" -> "poll.plan", "queryPlanning" -> "poll.plan", "addBatch" -> "sink.add_batch",
        "commitOffsets" -> "stream.wal_commit").foreach { case (k, name) =>
        val dur = t.durations.getOrElse(k, 0L) * 1000000L
        if (dur > 0) rec.external(name, at, at + dur)
        at += dur
      }
    }
  }

  /** Streams feeding the delivery query (one per watched table). */
  protected def branches: Int = 1

  /** Figures of op i taken from the layer listener; called once the
    * listener has seen every event of the run (traced runs only).
    */
  def sparkFigures(i: Int, l: LayerListener): Unit = {
    val c = l.forOp(i, Set("stream"))
    val trig = perOp.get(i).flatMap(_.get("stream.triggers")).getOrElse(0.0)
    val rows = perOp.get(i).flatMap(_.get("poll.rows_read")).getOrElse(0.0)
    put(i,
      "capture.jobs" -> l.forOp(i, Set("capture")).jobs.toDouble,
      "stream.jobs_per_trigger" -> (if (trig > 0) c.jobs / trig else 0.0),
      "poll.files_planned" -> (if (trig > 0) c.tasks.toDouble / branches / trig else 0.0),
      "poll.read_task_s" -> c.taskMs / 1000.0,
      "poll.rows_per_task_s" -> (if (c.taskMs > 0) rows / (c.taskMs / 1000.0) else 0.0))
  }

  /** Data files of `dir` not in `before`: (count, bytes). */
  protected def newFiles(dir: String, before: Set[String]): (Seq[File], Long) = {
    val fresh = Util.dataFiles(dir).filterNot(f => before(f.getPath))
    (fresh, fresh.map(_.length).sum)
  }

  protected def pollStream(logPath: String): DataFrame =
    spark.readStream.format("graft.sources.CdcPollTableProvider").option("path", logPath).load()

  /** Order-free fingerprints of tables, in one job: per table, the row
    * count and the sum of row hashes.
    */
  protected def fingerprints(dfs: Seq[DataFrame]): Seq[(Long, java.math.BigDecimal)] = {
    val tagged = dfs.zipWithIndex.map { case (df, j) =>
      df.select(lit(j).as("j"), xxhash64(df.columns.map(col): _*).cast("decimal(20,0)").as("h"))
    }
    val got = tagged.reduce(_ unionByName _).groupBy("j").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    dfs.indices.map(j => got.getOrElse(j, (0L, java.math.BigDecimal.ZERO)))
  }

  /** Sabotaged delivery for the fault-injection self-test: rewrite one
    * delivered topic file without its first row, as a lossy sink would.
    */
  protected def dropOneRow(file: File): Unit = {
    val rows = spark.read.parquet(file.getPath).collect()
    val schema = spark.read.parquet(file.getPath).schema
    val tmp = file.getPath + ".sabotage"
    spark.createDataFrame(rows.drop(1).toSeq.asJava, schema).coalesce(1).write.parquet(tmp)
    val part = Util.dataFiles(tmp).head
    file.delete()
    new File(file.getParent, s".${file.getName}.crc").delete()
    part.renameTo(file)
    Util.deleteRecursively(new File(tmp))
  }

  /** Waits (polling `lastProgress`) until `done` holds for the query's last
    * trigger; fails if the query dies or a minute passes.
    */
  protected def awaitProgress(q: StreamingQuery)(done: StreamingQueryProgress => Boolean): Long = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (true) {
      val p = q.lastProgress
      if (p != null && p.durationMs.containsKey("addBatch") && done(p)) return System.nanoTime()
      if (!q.isActive) throw q.exception.map(e => e: Throwable)
        .getOrElse(new IllegalStateException("delivery query stopped"))
      if (System.nanoTime() > deadline) throw new java.util.concurrent.TimeoutException("no delivery within 60 s")
      LockSupport.parkNanos(200000L)
    }
    0L
  }

  protected def endEventId(p: StreamingQueryProgress): Long =
    p.sources.map { s =>
      """"eventId":(-?\d+)""".r.findFirstMatchIn(Option(s.endOffset).getOrElse(""))
        .map(_.group(1).toLong).getOrElse(Long.MinValue)
    }.max
}

/** `cdc_backfill`: a few large rounds. Each round diffs every watched
  * table's snapshot v-1 against v, appends the events to the log, drains
  * them with a Trigger.AvailableNow query (one cdcpoll source and view per
  * table) into topic files, and applies the decoded topic rows to the
  * replica of every table.
  */
final class Backfill(c: Ctx) extends Workload(c) {
  import ctx._
  private val tables = Gen.TableNames.take(sizes.bfTables)
  private var root = ""
  private var base = Gen.IdBase
  private var lastKey = ""
  private var logFiles = Set.empty[String]
  private var topicFiles = Set.empty[String]

  /** Two rounds: the first timed round after a single one still runs
    * visibly slower than the rest.
    */
  def warmupOps = 2
  def maxOps = sizes.bfRounds
  override protected def branches: Int = tables.size
  private def snap(t: Int, v: Int) = spark.read.parquet(s"$root/snap/t=$t/v=$v")
  private def replicaPath(t: Int, v: Int) = s"$root/replica/t=$t/v=$v"
  private def replica(t: Int, v: Int) = if (v == 0) snap(t, 0) else spark.read.parquet(replicaPath(t, v))
  private def topic(t: Int) = JsonEnvelope.topicFor(s"event_log_${tables(t)}")
  private def topicCfg = TopicSource.Config(None, s"$root/topic")

  def setup(dir: String): Unit = {
    root = dir
    Gen.writeSnapshots(spark, seed, sizes, s"$root/snap")
    base = Gen.IdBase
    lastKey = base.toString
    logFiles = Set.empty
    topicFiles = Set.empty
  }

  def op(i: Int): OpTiming = {
    val v = i + 1
    val t0 = System.nanoTime()
    val events = rec.span("capture") {
      val diffs = tables.indices.map(t =>
        CdcCapture.capture(snap(t, v - 1), snap(t, v), Seq("id"), Gen.Schema, tables(t), lit(Gen.ts(v))))
      CdcCapture.assignIds(diffs.reduce(_ unionByName _), base)
    }
    rec.span("log")(CdcLog.append(events, s"$root/log"))
    val commitEndMs = System.currentTimeMillis()
    val q = rec.span("deliver") {
      val delivery = tables.map(t => CdcStream.deliveryStream(pollStream(s"$root/log"), Gen.Schema, t))
      val q = CdcStream.toTopicFiles(delivery.reduce(_ union _), s"$root/topic", s"$root/ckpt",
        Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    if (fault && i == warmupOps + 1)
      dropOneRow(Util.dataFiles(s"$root/topic").filterNot(f => topicFiles(f.getPath)).head)
    tables.indices.foreach { t =>
      val decoded = rec.span("consume") {
        val msgs = TopicSource.read(spark, topicCfg, Seq(topic(t))).where(col("key") > lastKey)
        TopicSource.decode(msgs.drop("topic", "key"), ChangeEvent.schema)
      }
      rec.span("apply") {
        CdcApply.applyLog(replica(t, v - 1), decoded, Seq("id"), Gen.tableSchema)
          .write.parquet(replicaPath(t, v))
      }
    }
    val wall = System.nanoTime() - t0
    recordTriggers(i, triggers(q.recentProgress.toSeq), commitEndMs)
    OpTiming(wall, wall)
  }

  def verify(i: Int): Boolean = {
    val v = i + 1
    val (newLog, logBytes) = newFiles(s"$root/log", logFiles)
    val (newTopic, topicBytes) = newFiles(s"$root/topic", topicFiles)
    logFiles ++= newLog.map(_.getPath)
    topicFiles ++= newTopic.map(_.getPath)
    val logged = spark.read.parquet(newLog.map(_.getPath): _*)
      .agg(count(lit(1)), min("event_id"), max("event_id")).head()
    val nLogged = logged.getLong(0)
    val idsOk = nLogged > 0 && logged.getLong(1) == base + 1 && logged.getLong(2) == base + nLogged
    val delivered = TopicSource.read(spark, topicCfg, tables.indices.map(topic)).where(col("key") > lastKey)
    val nDelivered = delivered.count()
    val fps = fingerprints(tables.indices.flatMap(t => Seq(replica(t, v), snap(t, v))))
    val replicas = fps.grouped(2).map { case Seq(got, want) => (got, want) }.toSeq
    items(i) = nDelivered
    val rowsRead = perOp.get(i).flatMap(_.get("poll.rows_read")).getOrElse(0.0)
    put(i,
      "capture.events" -> nLogged.toDouble,
      "log.files_written" -> newLog.size.toDouble,
      "log.mb_written" -> Util.mb(logBytes),
      "view.rows_out" -> nDelivered.toDouble,
      "view.selectivity" -> (if (rowsRead > 0) nDelivered / rowsRead else 0.0),
      "sink.files_written" -> newTopic.size.toDouble,
      "sink.mb_written" -> Util.mb(topicBytes),
      "consume.rows" -> nDelivered.toDouble,
      "apply.rows_out" -> replicas.map(_._1._1).sum.toDouble)
    base = if (nLogged > 0) logged.getLong(2) else base
    lastKey = base.toString
    idsOk && nDelivered == nLogged && replicas.forall { case (got, want) => got == want }
  }

  def diskBytes(): Long = Util.bytes(s"$root/log", s"$root/topic", s"$root/ckpt", s"$root/replica")
  override def endLayers(): Map[String, Double] =
    Map("log.files_total" -> Util.dataFiles(s"$root/log").size.toDouble)
}

/** `cdc_trickle`: many small commits into one long-running delivery query.
  * Each tick diffs the touched rows of the `assets` table, appends the
  * events to the log and waits until the query has written them to the
  * topic; one tick is in flight at a time.
  */
final class Trickle(c: Ctx) extends Workload(c) {
  import ctx._
  private val table = Gen.TableNames.head
  private var root = ""
  private var base = Gen.IdBase
  private var ticks = IndexedSeq.empty[Gen.Tick]
  private var query: StreamingQuery = _
  private var logFiles = Set.empty[String]
  private var topicFiles = Set.empty[String]
  private val idRange = mutable.Map.empty[Int, (Long, Long)]

  def warmupOps = 10
  def maxOps: Int = ticks.size
  private def df(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, Gen.tableSchema)

  /** Capture, append and deliver one change set; returns the commit start
    * and the time its rows became visible.
    */
  private def commit(i: Int, prev: Seq[Row], cur: Seq[Row], n: Int): (Long, Long, Long) = {
    val events = rec.span("capture") {
      CdcCapture.assignIds(
        CdcCapture.capture(df(prev), df(cur), Seq("id"), Gen.Schema, table, lit(Gen.ts(i + 1L))), base)
    }
    val commitStart = System.nanoTime()
    rec.span("log")(CdcLog.append(events, s"$root/log"))
    val commitEndMs = System.currentTimeMillis()
    val target = base + n
    val visible = rec.span("deliver")(awaitProgress(query)(p => endEventId(p) >= target))
    idRange(i) = (base + 1, target)
    base = target
    (commitStart, visible, commitEndMs)
  }

  def setup(dir: String): Unit = {
    teardown()
    root = dir
    val (initial, ts) = Gen.ticks(seed, sizes)
    ticks = ts
    base = Gen.IdBase
    logFiles = Set.empty
    topicFiles = Set.empty
    idRange.clear()
    query = CdcStream.toTopicFiles(
      CdcStream.deliveryStream(pollStream(s"$root/log"), Gen.Schema, table),
      s"$root/topic", s"$root/ckpt", Trigger.ProcessingTime(0L))
    commit(-1, Seq.empty, initial, initial.size)
    logFiles = Util.dataFiles(s"$root/log").map(_.getPath).toSet
    topicFiles = Util.dataFiles(s"$root/topic").map(_.getPath).toSet
  }

  def op(i: Int): OpTiming = {
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val tick = ticks(i)
    val (commitStart, visible, commitEndMs) = commit(i, tick.prev, tick.cur, tick.events)
    recordTriggers(i, triggers(query.recentProgress.toSeq).filter(_.startMs >= startMs), commitEndMs)
    items(i) = tick.events
    OpTiming(visible - t0, visible - commitStart)
  }

  def verify(i: Int): Boolean = {
    if (fault && i == warmupOps + 1)
      Util.dataFiles(s"$root/topic").filterNot(f => topicFiles(f.getPath)).headOption.foreach(dropOneRow)
    val (newLog, logBytes) = newFiles(s"$root/log", logFiles)
    val (newTopic, topicBytes) = newFiles(s"$root/topic", topicFiles)
    logFiles ++= newLog.map(_.getPath)
    topicFiles ++= newTopic.map(_.getPath)
    val n = ticks(i).events.toDouble
    val rowsRead = perOp.get(i).flatMap(_.get("poll.rows_read")).getOrElse(0.0)
    put(i,
      "capture.events" -> n,
      "log.files_written" -> newLog.size.toDouble,
      "log.mb_written" -> Util.mb(logBytes),
      "view.rows_out" -> n,
      "view.selectivity" -> (if (rowsRead > 0) n / rowsRead else 0.0),
      "sink.files_written" -> newTopic.size.toDouble,
      "sink.mb_written" -> Util.mb(topicBytes))
    true
  }

  /** Every committed event_id is delivered exactly once, and the decoded
    * topic rows equal the log's view row for row. The commit owning an id
    * that breaks either rule failed: a timed tick, a warm-up tick or set-up's
    * initial commit (-1), which also owns any id no commit made.
    */
  override def verifyEnd(): Set[Int] = {
    val view = EventViews.forTable(CdcLog.read(spark, s"$root/log"), Gen.Schema, table)
    val topicRows = TopicSource.decode(
      TopicSource.read(spark, TopicSource.Config(None, s"$root/topic")).drop("topic", "key"),
      ChangeEvent.schema)
    val cols = ChangeEvent.columns
    val v = view.select(cols.map(c => col(c).as(s"v_$c")): _*).groupBy("v_event_id")
      .agg(count(lit(1)).as("v_n"), first(struct(cols.filter(_ != "event_id").map(c => col(s"v_$c").as(c)): _*)).as("v_row"))
    val d = topicRows.groupBy(col("event_id").as("v_event_id"))
      .agg(count(lit(1)).as("d_n"), first(struct(cols.filter(_ != "event_id").map(col): _*)).as("d_row"))
    val bad = v.join(d, Seq("v_event_id"), "full_outer")
      .where(!(col("v_n") <=> lit(1L)) || !(col("d_n") <=> lit(1L)) ||
        !(to_json(col("v_row")) <=> to_json(col("d_row"))))
      .select("v_event_id").collect().map(_.getLong(0))
    bad.map(id => idRange.collectFirst { case (i, (lo, hi)) if id >= lo && id <= hi => i }.getOrElse(-1)).toSet
  }

  def diskBytes(): Long = Util.bytes(s"$root/log", s"$root/topic", s"$root/ckpt")
  override def endLayers(): Map[String, Double] =
    Map("log.files_total" -> Util.dataFiles(s"$root/log").size.toDouble)
}

/** `pipeline_ingest`: the five-stage ingest pipeline as one long-running
  * query. Each operation drops one batch file into the query's input
  * directory and waits for the trigger that admits it. Set-up builds the
  * inputs and the reference index and starts the query; the warm-up
  * operation seeds the stores with batch 0.
  */
final class Pipeline(c: Ctx) extends Workload(c) {
  import ctx._
  private var root = ""
  private var batches = IndexedSeq.empty[Seq[Gen.Doc]]
  private var query: StreamingQuery = _

  /** The one warm-up op feeds batch 0, the seed the stores are built from. */
  def warmupOps = 1
  def maxOps: Int = batches.size
  private val Stores = Seq("counts", "gram", "win", "ham")

  /** Moves batch k's file into the input directory (an atomic rename) and
    * waits until the trigger for it has committed.
    */
  private def feed(k: Int): Long = {
    val f = Util.dataFiles(s"$root/staging/batch=$k").head
    f.renameTo(new File(s"$root/in/batch-$k.parquet"))
    awaitProgress(query)(_.batchId >= k)
  }

  def setup(dir: String): Unit = {
    teardown()
    root = dir
    val (ref, bs) = Gen.docs(seed, sizes)
    batches = bs
    val rows = bs.zipWithIndex.flatMap { case (docs, k) =>
      docs.map(d => Row(d.id, d.text, d.hh, d.emb.toSeq, k))
    }
    spark.createDataFrame(rows.asJava, Gen.docSchema.add("batch", "int"))
      .repartition(col("batch"))
      .write.partitionBy("batch").parquet(s"$root/staging")
    val refDf = spark.createDataFrame(ref.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      new org.apache.spark.sql.types.StructType().add("vec_id", "long")
        .add("embedding", Gen.docSchema("emb").dataType))
    Dedup.writeSemanticIndex(
      Dedup.semanticIndex(refDf, "vec_id", "embedding", Gen.SemanticCells),
      Dedup.semanticSeeds(refDf, "vec_id", "embedding", Gen.SemanticCells),
      s"$root/semidx")
    new File(s"$root/in").mkdirs()
    val docs = spark.readStream.schema(Gen.docSchema).option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val input =
      if (!fault) docs
      else {
        // throwing trigger for the fault-injection self-test: the first
        // document of the second timed batch fails to evaluate
        val poison = bs(warmupOps + 1).head.id
        docs.withColumn("text",
          when(col("doc_id") === poison, raise_error(lit("injected fault"))).otherwise(col("text")))
      }
    query = CdcStream.ingestPipelineMaintain(
      input, s"$root/store", s"$root/semidx", s"$root/ckpt", "doc_id", "text", "hh", "emb",
      k = 10, minDocsBoiler = 5, w = 4, windowSize = 3, minShared = 3, maxDf = 8L,
      radius = Gen.Radius, threshold = 0.9, numBuckets = 16, trigger = Trigger.ProcessingTime(0L))
  }

  def op(i: Int): OpTiming = {
    val k = i
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val done = rec.span("pipeline")(feed(k))
    val ts = triggers(query.recentProgress.toSeq).filter(_.batchId == k)
    recordTriggers(i, ts, startMs)
    val trigS = ts.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1000.0
    put(i, "pipeline.trigger_s" -> trigS)
    OpTiming(done - t0, done - t0)
  }

  /** One admitted row per input document; every planted duplicate is
    * rejected and every planted unique admitted.
    */
  def verify(i: Int): Boolean = {
    val k = i
    val docs = batches(k)
    val got = spark.read.parquet(s"$root/store/admitted/ingest_batch=$k")
      .select("doc_id", "admitted", "winnow_status", "perceptual_status", "semantic_status").collect()
    val byId = got.map(r => r.getLong(0) -> r).toMap
    items(i) = docs.size
    put(i, "pipeline.admitted_ratio" -> got.count(_.getBoolean(1)).toDouble / docs.size)
    val wrong = docs.filterNot(d => byId.get(d.id).exists(_.getBoolean(1) == (d.kind == "unique")))
    wrong.take(5).foreach(d => println(s"batch $k: ${d.kind} doc ${d.id} got ${byId.get(d.id).map(_.mkString(","))}"))
    got.length == docs.size && byId.size == docs.size && wrong.isEmpty
  }

  override def sparkFigures(i: Int, l: LayerListener): Unit = {
    // the query's own jobs, and those its foreachBatch runs on pool threads
    // that carry no query id
    val c = l.forOp(i, Set("stream", "pipeline"))
    val trigS = perOp.get(i).flatMap(_.get("pipeline.trigger_s")).getOrElse(0.0)
    put(i,
      "pipeline.jobs_per_trigger" -> c.jobs.toDouble,
      "pipeline.stages_per_trigger" -> c.stages.toDouble,
      "pipeline.task_s_per_trigger" -> c.taskMs / 1000.0,
      "pipeline.core_busy_ratio" -> (if (trigS > 0) c.taskMs / 1000.0 / (trigS * cores) else 0.0),
      "pipeline.shuffle_mb" -> Util.mb(c.shuffleWriteBytes),
      "pipeline.spill_mb" -> Util.mb(c.spillBytes))
  }

  def diskBytes(): Long = Util.bytes(s"$root/store", s"$root/ckpt")
  override def endLayers(): Map[String, Double] =
    Stores.map(s => s"pipeline.store_mb.$s" -> Util.mb(Util.bytes(s"$root/store/$s"))).toMap
}
