package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.log.CdcLog
import graft.model.ChangeEvent
import graft.streaming.{BatchedStore, CdcStream}

/** EP2 delivery path as Structured Streaming: filter→project→envelope→
  * topic sink with checkpoint resume; windowed aggs with watermarks.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  private def mkEvents(ids: Range, table: String = "assets") =
    ids.map { i =>
      (ts(f"2025-06-14T00:${i % 60}%02d:00Z"), "dataschema", table, "INSERT",
        null: String, s"""{"id":$i}""", i.toLong)
    }.toDF("ts", "schema_name", "table_name", "operation", "before", "after", "event_id")

  test("delivery stream: filter, project, envelope, topic routing, checkpoint resume") {
    val logPath = tempDir("slog")
    val outPath = tempDir("stopics")
    val ckpt = tempDir("sckpt")
    CdcLog.append(mkEvents(1 to 20), logPath)
    CdcLog.append(mkEvents(21 to 30, table = "anomaly"), logPath)

    def runOnce(): Unit = {
      val log = CdcStream.readLogStream(
        spark, logPath, CdcLog.read(spark, logPath).schema)
      val delivery = CdcStream.deliveryStream(log, "dataschema", "assets")
      val q = CdcStream.toTopicFiles(delivery, outPath, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }
    runOnce()
    val out = spark.read.parquet(outPath)
    assert(out.select("topic").distinct().as[String].collect().toSeq
      == Seq("cdc-event_log_assets")) // anomaly rows filtered out (R2)
    assert(out.count() == 20)
    val value = out.orderBy("key").select("value").as[String].head()
    assert(value.startsWith("""{"schema":{"type":"struct""""))
    assert(value.contains(""""payload":{"""))

    // append more data; resume from checkpoint must deliver only the delta
    CdcLog.append(mkEvents(31 to 40), logPath)
    runOnce()
    val out2 = spark.read.parquet(outPath)
    assert(out2.count() == 30) // 20 + 10, no duplicates from re-delivery
  }

  test("TopicSink facade: two relations through one entry point, envelope-identical file delivery; kafka mode routes to the kafka source") {
    import graft.sink.TopicSink
    val logPath = tempDir("tslog")
    val outPath = tempDir("tstopics")
    CdcLog.append(mkEvents(1 to 15), logPath)
    CdcLog.append(mkEvents(16 to 25, table = "anomaly"), logPath)

    def logStream() = CdcStream.readLogStream(
      spark, logPath, CdcLog.read(spark, logPath).schema)

    // both relations union into ONE delivery stream through ONE facade call
    val delivery = CdcStream.deliveryStream(logStream(), "dataschema", "assets")
      .unionByName(CdcStream.deliveryStream(logStream(), "dataschema", "anomaly"))
    val q = TopicSink.start(delivery, TopicSink.Config(
      brokers = None, path = outPath, checkpoint = tempDir("tsckpt"),
      trigger = Trigger.AvailableNow()))
    q.awaitTermination()

    val out = spark.read.parquet(outPath)
    assert(out.select("topic").distinct().as[String].collect().sorted.toSeq
      == Seq("cdc-event_log_anomaly", "cdc-event_log_assets"))
    assert(out.count() == 25)
    // envelope content identical to the direct JsonEnvelope encode path
    val direct = CdcStream.deliveryStream(
      CdcLog.read(spark, logPath), "dataschema", "assets")
      .select("key", "value").as[(String, String)].collect().toMap
    val sunk = out.where($"topic" === "cdc-event_log_assets")
      .select("key", "value").as[(String, String)].collect().toMap
    assert(sunk == direct)

    // kafka mode: assert on the RESOLVED writer plan (format + exact
    // option set incl. kafka.* passthrough) rather than on a DataSource
    // lookup failure, so the assertion is independent of whether the
    // spark-sql-kafka jar happens to be on the classpath
    val kafkaCfg = TopicSink.Config(
      brokers = Some("broker:9092"), path = null, checkpoint = "/ckpt/kafka",
      trigger = Trigger.AvailableNow(),
      kafkaOptions = Map("kafka.compression.type" -> "lz4"))
    val plan = TopicSink.resolve(kafkaCfg)
    assert(plan.format == "kafka")
    assert(plan.options("kafka.bootstrap.servers") == "broker:9092")
    assert(plan.options("kafka.compression.type") == "lz4")
    assert(plan.options("checkpointLocation") == "/ckpt/kafka")
    assert(plan.partitionCols.isEmpty) // topics route rows; no dir partitioning
    if (TopicSink.kafkaConnectorOnClasspath) {
      // connector present: the writer must at least construct
      TopicSink.writer(delivery, kafkaCfg)
    } else {
      // connector absent (this container): fail FAST at writer(), in our
      // code, with an actionable message — not at start() in DataSource
      // lookup
      val err = intercept[IllegalStateException] {
        TopicSink.writer(delivery, kafkaCfg)
      }
      assert(err.getMessage.contains("spark-sql-kafka"))
    }

    // missing envelope columns rejected up front
    val bad = intercept[IllegalArgumentException] {
      TopicSink.writer(delivery.drop("key"), TopicSink.Config(
        brokers = None, path = outPath, checkpoint = tempDir("tsckpt3")))
    }
    assert(bad.getMessage.contains("key"))
  }

  test("TopicSource.readStream tails the sink directory and decodes as it arrives") {
    import graft.sink.TopicSink
    import graft.sources.TopicSource
    import org.apache.spark.sql.types._
    val logPath = tempDir("tclog")
    val outPath = tempDir("tctopics")
    CdcLog.append(mkEvents(1 to 12), logPath)
    val delivery = CdcStream.deliveryStream(
      CdcStream.readLogStream(spark, logPath, CdcLog.read(spark, logPath).schema),
      "dataschema", "assets")
    val sink = TopicSink.start(delivery, TopicSink.Config(
      brokers = None, path = outPath, checkpoint = tempDir("tcckpt"),
      trigger = Trigger.AvailableNow()))
    sink.awaitTermination()

    // consumer side: stream the topic directory, decode the envelope,
    // land typed rows in a memory sink — the reference's downstream
    // consumer loop (readme.md:124-126) in streaming form
    val messageSchema = StructType(Seq(
      StructField("topic", StringType),
      StructField("key", StringType),
      StructField("value", StringType)))
    val payloadSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("operation", StringType),
      StructField("after", StringType)))
    val messages = TopicSource.readStream(
      spark, TopicSource.Config(brokers = None, path = outPath),
      Seq("cdc-event_log_assets"), messageSchema)
    val typed = TopicSource.decode(messages, payloadSchema)
    val q = typed.writeStream.outputMode("append").format("memory")
      .queryName("consumed").option("checkpointLocation", tempDir("tcckpt2"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.sql("SELECT event_id, operation FROM consumed")
      .as[(Long, String)].collect().toSet
    val want = CdcStream.deliveryStream(
      CdcLog.read(spark, logPath), "dataschema", "assets")
      .select(get_json_object($"value", "$.payload.event_id").cast("long"),
        get_json_object($"value", "$.payload.operation"))
      .as[(Long, String)].collect().toSet
    assert(got.nonEmpty && got == want)
  }

  test("tumbling window aggregation over the event stream with watermark") {
    val ev = Tables.load(spark, sf0001, "events")
    val streamDir = tempDir("evstream") + "/data"
    ev.limit(500).write.parquet(streamDir)
    val stream = spark.readStream.schema(spark.read.parquet(streamDir).schema).parquet(streamDir)
    val agg = CdcStream.tumblingAgg(stream, "ts", "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("tumble").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT count(*) FROM tumble").head().getLong(0)
    val expected = ev.limit(500)
      .groupBy(window($"ts", "1 hour"), $"event_type").count().count()
    assert(got == expected)
  }

  test("session window aggregation (stateful) matches the batch equivalent") {
    val ev = Tables.load(spark, sf0001, "events").limit(300)
    val streamDir = tempDir("sessstream") + "/data"
    ev.write.parquet(streamDir)
    val stream = spark.readStream.schema(ev.schema).parquet(streamDir)
    val agg = CdcStream.sessionAgg(stream, "ts", "30 minutes", "1 hour")
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("sess").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT count(*) FROM sess").head().getLong(0)
    val expected = ev.groupBy(session_window($"ts", "30 minutes"), $"user_id").count().count()
    assert(got == expected)
  }

  test("continuous aggregate: incremental rollup state equals the batch aggregate across micro-batches") {
    val ev = Tables.load(spark, sf0001, "events").limit(600).cache()
    try {
      val dataDir = tempDir("cagg-data") + "/d"
      val statePath = tempDir("cagg-state") + "/rollup"
      val checkpoint = tempDir("cagg-ckpt")
      // two time-ordered file groups + maxFilesPerTrigger=1 => multiple
      // micro-batches, so the upsert path (anti-join replace) actually
      // executes; time order keeps the inter-batch watermark from
      // dropping the later group as late data
      val cutoff = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
      ev.where(unix_micros($"ts") <= cutoff).write.mode("append").parquet(dataDir)
      ev.where(unix_micros($"ts") > cutoff).write.mode("append").parquet(dataDir)
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      val q = graft.streaming.CdcStream.continuousAggregate(
        stream, "ts", "1 hour", "2 hours", "event_type", statePath, checkpoint)
      q.processAllAvailable(); q.stop()
      val got = spark.read.parquet(statePath)
      val expected = ev
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("total"))
        .select(unix_micros($"w.start").as("win_start"), $"event_type", $"n", $"total")
      assert(got.count() == expected.count())
      // counts compare exactly; the double `total` compares within fp
      // tolerance (incremental summation order differs from batch)
      val joined = got.as("g").join(expected.as("e"), Seq("win_start", "event_type"), "full_outer")
        .select($"g.n".as("gn"), $"e.n".as("en"), $"g.total".as("gt"), $"e.total".as("et"))
        .collect()
      joined.foreach { r =>
        assert(!r.isNullAt(0) && !r.isNullAt(1), s"key present on only one side: $r")
        assert(r.getLong(0) == r.getLong(1), s"count mismatch: $r")
        assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-6, s"total mismatch: $r")
      }
    } finally { ev.unpersist(); () }
  }

  test("rollupMaintain: stream-maintained state equals buildRollup across two drains") {
    import graft.plans.RollupRewrite
    import graft.streaming.CdcStream
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.load(spark, sf0001, "events")
      .select("event_id", "ts", "event_type", "value")
    val measure = floor($"value" * 10000 + 0.5).cast("long")
    val base = tempDir("rollupmaint")
    val dataDir = s"$base/d"; val statePath = s"$base/state"; val ckpt = s"$base/ckpt"
    def drain(): Unit = {
      val q = CdcStream.rollupMaintain(
        spark.readStream.schema(ev.schema).parquet(dataDir),
        "ts", "1 hour", "90 days", Seq("event_type"), measure,
        statePath, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }
    // two appends, two drains — the second only touches windows the new
    // slice lands in; replace-by-key must still converge to the batch
    // rollup over everything
    ev.where($"event_id" % 3 =!= 0).coalesce(1).write.mode("append").parquet(dataDir)
    drain()
    ev.where($"event_id" % 3 === 0).coalesce(1).write.mode("append").parquet(dataDir)
    drain()
    val state = spark.read.parquet(statePath)
    val got = state.orderBy("event_type", "bucket_ts").collect().toSeq
    val expected = RollupRewrite
      .buildRollup(spark.read.parquet(dataDir), Seq("event_type"), "ts", measure, "hour")
      .select(state.columns.map(col).toSeq: _*)
      .orderBy("event_type", "bucket_ts").collect().toSeq
    assert(got.nonEmpty)
    assert(got === expected,
      "incrementally maintained rollup must equal the one-shot batch rollup")
  }

  test("sketchRollupMaintain: exact counts across drains, rank-bounded digests, no-op idle drain") {
    import graft.streaming.CdcStream
    import graft.functions.GraftFunctions
    import graft.functions.GraftFunctions.{tdigest_merge_agg, tdigest_quantile}
    import org.apache.spark.sql.streaming.Trigger
    GraftFunctions.register(spark)
    val ev = Tables.load(spark, sf0001, "events")
      .where($"value".isNotNull)
      .select("event_id", "ts", "event_type", "value")
    val base = tempDir("sketchmaint")
    val dataDir = s"$base/d"; val statePath = s"$base/state"; val ckpt = s"$base/ckpt"
    def drain(): Unit = {
      val q = CdcStream.sketchRollupMaintain(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(dataDir),
        "ts", 3600L, Seq("event_type"), "value",
        statePath, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }
    ev.where($"event_id" % 3 =!= 0).coalesce(2).write.mode("append").parquet(dataDir)
    drain()
    ev.where($"event_id" % 3 === 0).coalesce(1).write.mode("append").parquet(dataDir)
    drain()
    val state = spark.read.parquet(statePath)
    // counts are EXACT per hourly bucket regardless of the batching
    val gotCounts = state.select($"bucket_ts", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val expCounts = ev
      .groupBy(graft.operators.TsAnalytics.timeBucket($"ts", 3600L).as("bucket_ts"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(gotCounts === expCounts, "streamed bucket counts must equal the batch aggregate")
    // merged per-type digest: p50 within the rank bound of the exact corpus
    val perType = state.groupBy($"event_type")
      .agg(tdigest_quantile(tdigest_merge_agg($"sk"), 0.5).as("m50"))
      .as[(String, Double)].collect().toMap
    perType.foreach { case (et, m50) =>
      val vs = ev.where($"event_type" === et).select($"value".cast("double"))
        .as[Double].collect().sorted
      val rank = vs.count(_ <= m50).toDouble / vs.length
      assert(math.abs(rank - 0.5) <= 0.03 + 2.0 / vs.length,
        s"$et: streamed+merged p50 rank $rank outside the bound")
    }
    // an idle drain (no new files) leaves the state byte-identical — and
    // the applied_batch guard makes a REPLAYED batch a no-op, so a crash
    // between checkpoint commit and the next trigger cannot double-merge
    val before = state.orderBy("event_type", "bucket_ts").collect().toSeq
    drain()
    val after = spark.read.parquet(statePath).orderBy("event_type", "bucket_ts").collect().toSeq
    assert(after === before, "idle drain must not disturb the sketch state")
    val maxBatch = spark.read.parquet(statePath).agg(max($"applied_batch")).head().getLong(0)
    assert(maxBatch >= 1L, "state must record the applied batch id")
  }

  test("continuous aggregate: mid-stream stop + checkpoint restart converges to the batch oracle") {
    val ev = Tables.load(spark, sf0001, "events").limit(600).cache()
    try {
      val total = ev.count()
      val dataDir = tempDir("caggrs-data") + "/d"
      val statePath = tempDir("caggrs-state") + "/rollup"
      val checkpoint = tempDir("caggrs-ckpt")
      // six time-ordered file groups, one micro-batch each
      // (maxFilesPerTrigger=1), so the stop below lands between batches
      // with real input still unread — a restart that re-scanned from
      // zero or dropped the committed offset would diverge
      val cuts = ev.agg(
        expr("percentile(unix_micros(ts), array(1D/6, 2D/6, 3D/6, 4D/6, 5D/6))")).head()
        .getSeq[Double](0).map(_.toLong)
      val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
      bounds.sliding(2).foreach { case Seq(lo, hi) =>
        ev.where(unix_micros($"ts") > lo && unix_micros($"ts") <= hi)
          .coalesce(1).write.mode("append").parquet(dataDir)
      }
      def stream() = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      val fast = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds")
      val q1 = graft.streaming.CdcStream.continuousAggregate(
        stream(), "ts", "1 hour", "2 hours", "event_type", statePath, checkpoint, fast)
      // stop as soon as the first batch has committed — mid-stream, maybe
      // mid-batch (swapState is atomic, the upsert idempotent, so a
      // half-finished trigger must be safe to replay)
      val t0 = System.nanoTime()
      while (q1.recentProgress.map(_.numInputRows).sum < 1 && System.nanoTime() - t0 < 60e9)
        Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      val processed1 = q1.recentProgress.map(_.numInputRows).sum
      assert(processed1 >= 1, "first run must commit at least one batch")
      assert(processed1 < total, "the stop must leave unprocessed input for the restart")
      // restart from the SAME checkpoint: resumes at the committed offset
      // and must converge the rollup to the batch aggregate
      val q2 = graft.streaming.CdcStream.continuousAggregate(
        stream(), "ts", "1 hour", "2 hours", "event_type", statePath, checkpoint, fast)
      q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(statePath)
      val expected = ev
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("total"))
        .select(unix_micros($"w.start").as("win_start"), $"event_type", $"n", $"total")
      assert(got.count() == expected.count())
      val joined = got.as("g").join(expected.as("e"), Seq("win_start", "event_type"), "full_outer")
        .select($"g.n".as("gn"), $"e.n".as("en"), $"g.total".as("gt"), $"e.total".as("et"))
        .collect()
      joined.foreach { r =>
        assert(!r.isNullAt(0) && !r.isNullAt(1), s"window lost across the restart: $r")
        assert(r.getLong(0) == r.getLong(1), s"count mismatch after restart: $r")
        assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-6, s"total mismatch after restart: $r")
      }
    } finally { ev.unpersist(); () }
  }

  test("continuous aggregate refuses a state table with an unknown key format") {
    val ev = Tables.load(spark, sf0001, "events").limit(50).cache()
    try {
      val dataDir = tempDir("caggkf-data") + "/d"
      val statePath = tempDir("caggkf-state") + "/rollup"
      ev.write.parquet(dataDir)
      // a pre-existing state table with NO format stamp — the shape an
      // earlier build (second-resolution win_start keys) leaves behind
      spark.range(1).select(
        lit(1700000000L).as("win_start"), lit("click").as("event_type"),
        lit(1L).as("n"), lit(1.0).as("total")).write.parquet(statePath)
      val stream = spark.readStream.schema(ev.schema).parquet(dataDir)
      val q = graft.streaming.CdcStream.continuousAggregate(
        stream, "ts", "1 hour", "2 hours", "event_type", statePath,
        tempDir("caggkf-ckpt"),
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable(); q.awaitTermination()
      }
      q.stop()
      def causes(t: Throwable): Iterator[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      assert(causes(e).exists(c =>
        c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("predates the key-format stamp")),
        s"expected the key-format guard to fire, got: $e")
      // the unstamped old state must be left untouched, not mixed into
      assert(spark.read.parquet(statePath).count() == 1)
    } finally { ev.unpersist(); () }
  }

  test("continuous aggregate recovers prior rollups from a mid-swap crash (.bak fallback)") {
    val ev = Tables.load(spark, sf0001, "events").limit(400).cache()
    try {
      val dataDir = tempDir("caggr-data") + "/d"
      val statePath = tempDir("caggr-state") + "/rollup"
      val checkpoint = tempDir("caggr-ckpt")
      // time-ordered arrival (first half of the timeline, then the rest):
      // the checkpointed watermark from run 1 must not regard run 2's
      // data as late
      val cutoff = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
      ev.where(unix_micros($"ts") <= cutoff).write.mode("append").parquet(dataDir)
      val stream1 = spark.readStream.schema(ev.schema).parquet(dataDir)
      val q1 = graft.streaming.CdcStream.continuousAggregate(
        stream1, "ts", "1 hour", "2 hours", "event_type", statePath, checkpoint)
      q1.processAllAvailable(); q1.stop()
      // simulate a crash between swap renames: the live dir was moved
      // aside to .bak and the process died before tmp moved into place
      assert(new java.io.File(statePath).exists())
      assert(new java.io.File(statePath).renameTo(new java.io.File(s"$statePath.bak")))
      // more data arrives; the restarted stream must merge ONTO the
      // backup, not silently restart the rollup from empty
      ev.where(unix_micros($"ts") > cutoff).write.mode("append").parquet(dataDir)
      val stream2 = spark.readStream.schema(ev.schema).parquet(dataDir)
      val q2 = graft.streaming.CdcStream.continuousAggregate(
        stream2, "ts", "1 hour", "2 hours", "event_type", statePath, checkpoint)
      q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(statePath)
      val expected = ev
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(unix_micros($"w.start").as("win_start"), $"event_type", $"n")
      val j = got.join(expected, Seq("win_start", "event_type"), "full_outer")
        .select(got("n").as("gn"), expected("n").as("en")).collect()
      assert(j.nonEmpty)
      j.foreach { r =>
        assert(!r.isNullAt(0) && !r.isNullAt(1) && r.getLong(0) == r.getLong(1),
          s"window lost or wrong after recovery: $r")
      }
    } finally { ev.unpersist(); () }
  }

  test("stream-stream interval join matches the batch equivalent and bounds its state") {
    val ev = Tables.load(spark, sf0001, "events").limit(400).cache()
    try {
      val clicks = ev.where($"event_type" === "click").select("user_id", "ts", "event_id")
      val errors = ev.where($"event_type" === "error").select("user_id", "ts", "event_id")
      val cDir = tempDir("ssj-c") + "/d"; val eDir = tempDir("ssj-e") + "/d"
      clicks.write.parquet(cDir); errors.write.parquet(eDir)
      val cs = spark.readStream.schema(clicks.schema).parquet(cDir)
      val es = spark.readStream.schema(errors.schema).parquet(eDir)
      val joined = graft.streaming.CdcStream
        .intervalJoin(cs, es, Seq("user_id"), "ts", lookback = "1 HOUR", watermark = "2 hours")
      val q = joined.writeStream.outputMode("append").format("memory").queryName("ssj").start()
      q.processAllAvailable(); q.stop()
      val got = spark.sql("SELECT count(*) FROM ssj").head().getLong(0)
      // batch twin: errors in (click.ts - 1h, click.ts]
      val expected = clicks.as("c").join(errors.as("e"),
        $"c.user_id" === $"e.user_id" &&
          $"e.ts" > $"c.ts" - expr("INTERVAL 1 HOUR") && $"e.ts" <= $"c.ts").count()
      assert(got == expected, s"stream=$got batch=$expected")
      assert(expected > 0, "fixture must exercise the join")
    } finally { ev.unpersist(); () }
  }

  test("materialize maintains the current-state table across micro-batches") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("v", StringType)))
    val logPath = tempDir("matlog")
    val statePath = tempDir("matstate") + "/state"
    val ckpt = tempDir("matckpt")

    def env(id: Int, op: String, v: String, eid: Long) = {
      val json = s"""{"id":$id,"v":"$v"}"""
      (ts("2025-06-14T00:00:00Z"), "dataschema", "t", op,
        if (op == "INSERT") null else json,
        if (op == "DELETE") null else json,
        eid)
    }
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

    // batch 1: insert 1..3
    CdcLog.append(Seq(
      env(1, "INSERT", "a", 1L), env(2, "INSERT", "b", 2L), env(3, "INSERT", "c", 3L)
    ).toDF("ts", "schema_name", "table_name", "operation", "before", "after", "event_id"), logPath)
    def runOnce(): Unit = {
      val stream = CdcStream.readLogStream(spark, logPath, CdcLog.read(spark, logPath).schema)
      val q = CdcStream.materialize(stream, statePath, ckpt, Seq("id"), schema,
        Trigger.AvailableNow())
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(statePath).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((1, "a"), (2, "b"), (3, "c")))

    // batch 2: update 2, delete 3, insert 4 — only the delta is applied
    CdcLog.append(Seq(
      env(2, "UPDATE", "b2", 4L), env(3, "DELETE", "c", 5L), env(4, "INSERT", "d", 6L)
    ).toDF("ts", "schema_name", "table_name", "operation", "before", "after", "event_id"), logPath)
    runOnce()
    assert(spark.read.parquet(statePath).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((1, "a"), (2, "b2"), (4, "d")))
  }

  test("scd2Maintain: incremental version history equals the batch operator, redelivery absorbed") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("v", StringType)))
    val logPath = tempDir("scd2log")
    val statePath = tempDir("scd2state") + "/hist"
    val ckpt = tempDir("scd2ckpt")
    def env(id: Int, op: String, v: String, eid: Long) = {
      val json = s"""{"id":$id,"v":"$v"}"""
      (java.sql.Timestamp.from(java.time.Instant.parse("2025-06-14T00:00:00Z")),
        "dataschema", "t", op,
        if (op == "INSERT") null else json,
        if (op == "DELETE") null else json,
        eid)
    }
    def runOnce(): Unit = {
      val stream = CdcStream.readLogStream(spark, logPath, CdcLog.read(spark, logPath).schema)
      val q = CdcStream.scd2Maintain(stream, statePath, ckpt, Seq("id"), schema,
        Trigger.AvailableNow())
      q.awaitTermination()
    }
    val b1 = Seq(env(1, "INSERT", "a", 1L), env(2, "INSERT", "b", 2L), env(3, "INSERT", "c", 3L))
    CdcLog.append(b1.toDF("ts", "schema_name", "table_name", "operation", "before", "after", "event_id"), logPath)
    runOnce()
    assert(spark.read.parquet(statePath).where($"is_current" === 1).count() === 3)
    // batch 2 extends chains and REDELIVERS event 2 (must be a no-op)
    val b2 = Seq(env(2, "INSERT", "b", 2L), // redelivery
      env(2, "UPDATE", "b2", 4L), env(3, "DELETE", "c", 5L), env(4, "INSERT", "d", 6L))
    CdcLog.append(b2.toDF("ts", "schema_name", "table_name", "operation", "before", "after", "event_id"), logPath)
    runOnce()
    val got = spark.read.parquet(statePath)
      .select("id", "v", "valid_from_id", "valid_to_id", "is_current")
      .collect().map(r => (r.getInt(0), r.getString(1), r.get(2), r.get(3), r.getInt(4))).toSet
    val allEvents = CdcLog.dedup(CdcLog.read(spark, logPath))
    val emptySnap = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val expected = graft.capture.CdcApply
      .scd2History(emptySnap, allEvents, Seq("id"), schema)
      .select("id", "v", "valid_from_id", "valid_to_id", "is_current")
      .collect().map(r => (r.getInt(0), r.getString(1), r.get(2), r.get(3), r.getInt(4))).toSet
    assert(got === expected, s"incremental history diverged:\n got=$got\n exp=$expected")
    // the deleted key has no current row; key 2's chain closed then reopened
    assert(!got.exists(r => r._1 == 3 && r._5 == 1))
    assert(got.count(r => r._1 == 2) === 2)
  }

  test("streaming dedup within watermark drops redelivered keys") {
    val dir = tempDir("sdedup") + "/data"
    val ev = Tables.load(spark, sf0001, "events").limit(200)
    ev.union(ev).write.parquet(dir) // every event delivered twice
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    val deduped = CdcStream.streamingDedup(stream, "ts", Seq("event_id"), "1 hour")
    val q = deduped.writeStream.outputMode("append").format("memory").queryName("sdedup").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT count(*), count(DISTINCT event_id) FROM sdedup").head()
    assert(got.getLong(0) == 200 && got.getLong(1) == 200)
  }

  test("flatMapGroupsWithState tracks per-user running counts across batches") {
    import graft.streaming.UserState
    import graft.streaming.UserState.UserEvent
    val dir = tempDir("ustate") + "/data"
    val ckpt = tempDir("ustateckpt")
    val ev = Tables.load(spark, sf0001, "events").limit(300)
      .selectExpr("user_id", "event_id", "event_type",
        "CAST(unix_micros(ts) AS LONG) AS tsMicros")
    ev.write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
      .as[UserEvent]
    val updates = UserState.runningCounts(spark, stream)
    val q = updates.writeStream.outputMode("append").format("memory").queryName("ustate")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    // the final update per user matches the batch ground truth
    val finals = spark.sql(
      "SELECT user_id, max(n_events) FROM ustate GROUP BY user_id")
      .as[(Long, Long)].collect().toMap
    val counts = ev.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(finals.keySet == counts.keySet)
    counts.foreach { case (u, n) => assert(finals(u) == n, s"user $u") }
  }

  test("streaming similarity: ANN top-k applied per micro-batch of query vectors") {
    import graft.ext.Similarity
    val embs = Tables.load(spark, sf0001, "embeddings")
    val dir = tempDir("simstream") + "/data"
    val ckpt = tempDir("simstreamckpt")
    embs.where($"vec_id" < 10).write.parquet(dir) // the query stream
    val stream = spark.readStream.schema(embs.schema).parquet(dir)
    val results = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val topk = Similarity.lshTopK(embs, batch.toDF(), "vec_id", "embedding", k = 3)
        results ++= topk.select("q_id", "n_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val perQuery = results.groupBy(_._1)
    assert(perQuery.keySet == (0L until 10L).toSet)
    perQuery.values.foreach(v => assert(v.map(_._3).sorted == (1 to v.size)))
  }

  test("streaming decontamination: incoming docs screened per micro-batch against the train vocabulary") {
    // the ingestion-time form of TextOps.contamination: the train split's
    // shingle vocabulary is a static (cached) side, every arriving
    // micro-batch of candidate documents is screened against it before
    // admission — same join shape as the batch op, applied in foreachBatch
    import graft.ext.TextOps
    val docs = Tables.load(spark, sf0001, "documents")
      .withColumn("split", TextOps.hashSplit($"doc_id", "graft", 0.9, 0.05))
    val dir = tempDir("decontstream") + "/data"
    val ckpt = tempDir("decontstreamckpt")
    val incoming = docs.where($"split" =!= "train").select($"doc_id", $"text")
    incoming.write.parquet(dir)
    val train = docs.where($"split" === "train").select($"doc_id", $"text")
    val stream = spark.readStream.schema(incoming.schema).parquet(dir)
    val results = scala.collection.mutable.Map[Long, Double]()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val screened = TextOps.contamination(
          train.withColumn("split", lit("train"))
            .unionByName(batch.toDF().withColumn("split", lit("candidate"))),
          "doc_id", "text", "split")
        results ++= screened.select("id", "rate").collect().map(r => r.getLong(0) -> r.getDouble(1))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // every non-train doc got a verdict, and it matches the batch operator
    val batchForm = TextOps.contamination(docs, "doc_id", "text", "split")
      .select("id", "rate").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(results.toMap == batchForm)
    assert(results.nonEmpty)
  }

  test("streaming ingest admits micro-batches against the snapshot fingerprint index") {
    // the ingestion-time form of Dedup.incrementalDedup: the already-
    // ingested corpus's fingerprint index is the static side; every
    // arriving micro-batch is classified (dup_snapshot / dup_batch / new)
    // before admission — O(batch) per trigger, never a corpus rescan
    import graft.ext.Dedup
    val docs = Tables.load(spark, sf0001, "documents")
    val snapshot = docs.where($"doc_id" % 5 =!= 4).select($"doc_id", $"text")
    val incoming = docs.where($"doc_id" % 5 === 4).select($"doc_id", $"text")
    val dir = tempDir("incrstream") + "/data"
    val ckpt = tempDir("incrstreamckpt")
    incoming.write.parquet(dir)
    val stream = spark.readStream.schema(incoming.schema).parquet(dir)
    val results = scala.collection.mutable.Map[Long, String]()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val admitted = Dedup.incrementalDedup(snapshot, batch.toDF(), "doc_id", "text")
        results ++= admitted.select("id", "status").collect()
          .map(r => r.getLong(0) -> r.getString(1))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // every batch doc got a verdict matching the batch operator (modulo
    // dup_batch, which depends on micro-batch boundaries: a doc whose
    // within-batch twin arrived in an earlier trigger reads dup_snapshot
    // in batch form but was 'new' vs that trigger — with AvailableNow over
    // one file group the boundaries coincide, so equality is exact here)
    val batchForm = Dedup.incrementalDedup(snapshot, incoming, "doc_id", "text")
      .select("id", "status").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(results.toMap == batchForm)
    assert(results.nonEmpty)
  }

  test("streaming SemDeDup admission: per-trigger screen + index append equals full dedup on the union") {
    // the ingestion-time form of Dedup.semanticAdmit run as a STREAM:
    // each arriving micro-batch of embeddings screens against the stored
    // semantic index (O(batch + touched cells)), and admitted-or-not the
    // batch's assignments APPEND to the index so later triggers screen
    // against earlier arrivals. With monotone ingestion ids, sequential
    // admission must equal one from-scratch semanticDedup over
    // snapshot ∪ all arrivals — the union-equivalence contract applied
    // trigger by trigger.
    import graft.ext.Dedup
    val e = Tables.load(spark, sf0001, "embeddings").select($"vec_id", $"embedding")
    val copies = e.where($"vec_id" % 5 === 0).select(
      ($"vec_id" + 1000000L).as("vec_id"),
      concat(
        array(element_at($"embedding", 1) * lit(1.05f)),
        slice($"embedding", lit(2), size($"embedding") - 1)).as("embedding"))
    val negs = e.where($"vec_id" % 7 === 3).select(
      ($"vec_id" + 3000000L).as("vec_id"),
      transform($"embedding", x => -x).as("embedding"))
    // arrive AFTER negs: their only match is a batch-1 arrival, so the
    // cross-trigger index append is what detects them
    val negCopies = e.where($"vec_id" % 7 === 3).select(
      ($"vec_id" + 4000000L).as("vec_id"),
      concat(
        array(element_at($"embedding", 1) * lit(-1.05f)),
        transform(slice($"embedding", lit(2), size($"embedding") - 1), x => -x)).as("embedding"))
    val k = 16
    val dir = tempDir("semadmit") + "/data"
    val ckpt = tempDir("semadmitckpt")
    copies.unionByName(negs).coalesce(1).write.parquet(dir)
    Thread.sleep(1100) // distinct mtimes → deterministic trigger order
    negCopies.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(copies.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    var index = Dedup.semanticIndex(e, "vec_id", "embedding", k)
      .localCheckpoint(eager = true)
    val dropped = scala.collection.mutable.Set[Long]()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        val admit = Dedup.semanticAdmit(index, b, "vec_id", "embedding", k, 0.9)
        dropped ++= admit.where($"status" =!= "new").select("id").collect().map(_.getLong(0))
        index = index.unionByName(
          b.select($"vec_id".cast("long").as("id"), $"embedding".as("v"))
            .join(admit.select($"id", $"cluster"), "id")
            .select("id", "cluster", "v"))
          .localCheckpoint(eager = true)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val full = Dedup.semanticDedup(
        e.unionByName(copies).unionByName(negs).unionByName(negCopies),
        "vec_id", "embedding", k, 0.9)
      .where($"id" >= 1000000L && !$"kept").select("id").collect().map(_.getLong(0)).toSet
    assert(dropped.toSet === full,
      s"streamed drops ${dropped.size} != full-dedup drops ${full.size}")
    assert(dropped.nonEmpty)
  }

  test("streaming exact-substring admission: per-trigger spans + gram-index append equal the full pipeline") {
    // the ingestion-time ExactSubstr form run as a stream: each arriving
    // micro-batch's k-grams probe the stored gram index, spans come out
    // per trigger, and the batch's distinct grams APPEND to the index so
    // later triggers catch duplicates of earlier arrivals. With monotone
    // ids and id-ordered trigger files, the union of per-trigger outputs
    // must equal the full-corpus batch pipeline restricted to arrivals.
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    val snapshot = d.where($"doc_id" % 5 =!= 4).select($"doc_id", $"text")
    val fileA = d.where($"doc_id" % 5 === 4)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    // arrives AFTER fileA and duplicates it: only the cross-trigger
    // index append can flag these spans
    val fileB = d.where($"doc_id" % 5 === 4)
      .select(($"doc_id" + 200000L).as("doc_id"),
        concat(lit("latersalt "), $"text").as("text"))
    val dir = tempDir("substrstream") + "/data"
    val ckpt = tempDir("substrstreamckpt")
    fileA.coalesce(1).write.parquet(dir)
    Thread.sleep(1100)
    fileB.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(fileA.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    var index = Dedup.substringGramIndex(snapshot, "doc_id", "text", k = 10)
      .localCheckpoint(eager = true)
    val results = scala.collection.mutable.Map[Long, (Long, String)]()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        val admitted = Dedup.exactSubstringSpansIncremental(index, b, "doc_id", "text", k = 10)
        results ++= admitted.select("doc_id", "dup_tokens", "spans").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        index = index
          .unionByName(Dedup.substringGramIndex(b, "doc_id", "text", k = 10))
          .distinct()
          .localCheckpoint(eager = true)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val full = Dedup
      .exactSubstringSpans(
        snapshot.unionByName(fileA).unionByName(fileB), "doc_id", "text", k = 10)
      .where($"doc_id" >= 100000L)
      .select("doc_id", "dup_tokens", "spans").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(results.toMap === full)
    // the second trigger's docs must actually have been flagged against
    // the first trigger's appended grams (not just the snapshot)
    assert(results.collect { case (id, (dt, _)) if id >= 200000L => dt }.exists(_ > 0),
      "cross-trigger duplicates were not caught — index append broken")
  }

  test("substringStripMaintain: per-trigger strip + persisted gram index equal the one-shot batch pipeline") {
    // the full ingest composition (admission → strip → append, index
    // advanced as a PERSISTED parquet state table, hashKey production
    // layout) across two streaming runs — the stripped corpus must equal
    // the one-shot batch detect→strip over the union
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    val batch1 = d.select($"doc_id".cast("long").as("doc_id"), $"text")
    val batch2 = d.where($"doc_id" % 10 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"),
        concat(lit("xdupsalt "), $"text").as("text"))
    val base = tempDir("stripmaint")
    val in = s"$base/in"
    def runOnce(): Unit = {
      val q = CdcStream.substringStripMaintain(
        spark.readStream.schema(batch1.schema).parquet(in),
        s"$base/idx", s"$base/out", s"$base/ckpt", k = 10, hashKey = true,
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    batch1.coalesce(1).write.mode("append").parquet(in); runOnce()
    batch2.coalesce(1).write.mode("append").parquet(in); runOnce()
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_tokens", "kept_tokens", "stripped_text")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val corpus = batch1.unionByName(batch2)
    val spans = Dedup
      .exactSubstringSpans(corpus, "doc_id", "text", k = 10, hashKey = true)
      .select("doc_id", "spans")
    val full = Dedup.stripSpans(corpus, "doc_id", "text", spans)
      .select("doc_id", "n_tokens", "kept_tokens", "stripped_text")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(streamed === full)
    // the copies arrived in run 2 and must have been stripped against
    // run 1's PERSISTED index (not just within-batch occurrences)
    val copyRows = streamed.collect { case (id, (n, kept, _)) if id >= 100000L => (n, kept) }
    assert(copyRows.nonEmpty && copyRows.forall { case (n, kept) => kept < n },
      "batch-2 copies were not stripped against the persisted gram index")
  }

  test("substringStripMaintain: replaying the last micro-batch is a no-op (crash-redelivery idempotence)") {
    // foreachBatch replays its LAST batch after a crash before the
    // checkpoint commit — the strip path must be idempotent per batchId:
    // no duplicated output rows, and no re-strip of the replayed batch's
    // own first occurrences (the gram store already holds the crashed
    // attempt's grams, so a naive re-probe would wrongly flag them)
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    val batch1 = d.where($"doc_id" < 100)
      .select($"doc_id".cast("long").as("doc_id"), $"text")
    val batch2 = d.where($"doc_id" >= 100 && $"doc_id" < 160)
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .unionByName(
        d.where($"doc_id" < 100 && $"doc_id" % 10 === 0)
          .select(($"doc_id" + 100000L).as("doc_id"),
            concat(lit("xdupsalt "), $"text").as("text")))
    val base = tempDir("stripreplay")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.substringStripApplyBatch(
        b, id, s"$base/idx", s"$base/out", k = 10, hashKey = true, numBuckets = 16)
    applyBatch(batch1, 0L)
    applyBatch(batch2, 1L) // the crashed attempt (output + grams landed)
    applyBatch(batch2, 1L) // the replay
    val out = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_tokens", "kept_tokens", "stripped_text")
    // no duplicated docs, count unchanged by the replay
    assert(out.count() === batch1.count() + batch2.count())
    assert(out.select("doc_id").distinct().count() === out.count())
    // content equals the one-shot batch pipeline over the union — in
    // particular batch 2's own first occurrences were NOT re-stripped
    // against the crashed attempt's appended grams
    val corpus = batch1.unionByName(batch2)
    val spans = Dedup
      .exactSubstringSpans(corpus, "doc_id", "text", k = 10, hashKey = true)
      .select("doc_id", "spans")
    val full = Dedup.stripSpans(corpus, "doc_id", "text", spans)
      .select("doc_id", "n_tokens", "kept_tokens", "stripped_text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out.as[(Long, Long, Long, String)].collect().toSet === full)
    // the gram store stayed a SET across the replay (append-only dedup:
    // replays overwrite their own partition, never duplicate grams)
    val store = spark.read.parquet(s"$base/idx")
    assert(store.select("g").distinct().count() === store.count(),
      "replay duplicated grams in the store")
  }

  test("winnowAdmitMaintain: streamed statuses match the stored-artifact probe; replay is a no-op; layout drift refused") {
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    val batch1 = d.where($"doc_id" < 100)
      .select($"doc_id".cast("long").as("doc_id"), $"text")
    // batch 2: fresh docs + an edited copy of a batch-1 doc (must come
    // back dup_snapshot through the store) + two in-batch clones
    val edited = d.where($"doc_id" === 20L)
      .select(($"doc_id" + 100000L).as("doc_id"),
        array_join(concat(
          slice(split(trim($"text"), "\\s+"), 1, 19), array(lit("zzedit")),
          slice(split(trim($"text"), "\\s+"), 21, 100000)), " ").as("text"))
    val cloneSrc = d.where($"doc_id" === 101L).select($"text").head().getString(0)
    val batch2 = d.where($"doc_id" >= 100 && $"doc_id" < 160)
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .unionByName(edited)
      .unionByName(Seq((200001L, cloneSrc)).toDF("doc_id", "text"))
    val base = tempDir("winnowadmit")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.winnowAdmitApplyBatch(
        b, id, s"$base/idx", s"$base/out", "doc_id", "text",
        w = 5, windowSize = 4, minShared = 3, maxDf = 8L, numBuckets = 16,
        portable = false)
    applyBatch(batch1, 0L)
    applyBatch(batch2, 1L) // the crashed attempt (decisions + postings landed)
    val first = spark.read.parquet(s"$base/out/ingest_batch=1")
      .as[(Long, String)].collect().toMap
    applyBatch(batch2, 1L) // the replay — must probe the PRE-batch store
    val replayed = spark.read.parquet(s"$base/out/ingest_batch=1")
      .as[(Long, String)].collect().toMap
    assert(replayed === first, "replay changed admission decisions")
    assert(replayed(100020L) === "dup_snapshot")
    assert(replayed(200001L) === "dup_batch") // clone of in-batch doc 101
    assert(replayed(101L) === "new")
    // no duplicated postings across the replay (overwrite-own-partition)
    val store = spark.read.parquet(s"$base/idx")
    assert(store.select("id", "fp").distinct().count() === store.count(),
      "replay duplicated postings in the store")
    // streamed batch-2 statuses ≡ the batch stored-artifact probe over
    // the same prior corpus (cumulative-prior cap ≡ build-time cap when
    // the store population is exactly the artifact's corpus)
    val art = tempDir("winnowart")
    Dedup.writeWinnowIndex(batch1, "doc_id", "text", art, maxDf = 8L, buckets = 16)
    val stored = Dedup.winnowAdmitStored(spark, art, batch2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(replayed === stored)
    // drifting any layout param against the existing store is refused
    intercept[IllegalStateException] {
      CdcStream.winnowAdmitApplyBatch(
        batch2, 2L, s"$base/idx", s"$base/out", "doc_id", "text",
        w = 5, windowSize = 4, minShared = 3, maxDf = 9L, numBuckets = 16,
        portable = false)
    }
  }

  test("bm25IndexMaintain: batched partials probe exactly like the one-shot build; replay is a no-op; bucket count is a store property") {
    import graft.ext.TextOps
    val d = Tables.load(spark, sf0001, "documents")
    val corpus = d.select($"doc_id".cast("long").as("doc_id"), $"text")
    val batch1 = corpus.where($"doc_id" % 3 === 0)
    val batch2 = corpus.where($"doc_id" % 3 === 1)
    val batch3 = corpus.where($"doc_id" % 3 === 2)
    val queries = corpus.where($"doc_id" % 25 === 3)
      .select($"doc_id".as("q_id"),
        array_join(slice(split(trim($"text"), "\\s+"), 3, 5), " ").as("qtext"))
    val base = tempDir("bm25maint")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long, buckets: Int = 8): Unit =
      CdcStream.bm25IndexApplyBatch(b, id, s"$base/idx", "doc_id", "text", numBuckets = buckets)
    applyBatch(batch1, 0L)
    applyBatch(batch2, 1L) // the crashed attempt
    applyBatch(batch2, 1L) // the replay — must overwrite, never double-count
    // bucket count is a STORE property (re-bucketing folds re-stamp the
    // marker): a caller passing a different numBuckets ADOPTS the
    // stamped count — the store stays 8-bucketed and consistent instead
    // of mixing layouts or demanding callers track fold history
    applyBatch(batch3, 2L, buckets = 32)
    assert(TextOps.bm25StampedBuckets(spark, s"$base/idx").contains(8),
      "mismatched caller numBuckets must adopt the stamped store count, not re-stamp it")
    def probe(path: String) =
      TextOps.bm25TopKStored(spark, path, queries, "q_id", "qtext", k = 3)
        .as[(Long, Long, Int, Long, Long, Long)].collect().toSet
    val streamed = probe(s"$base/idx")
    // one-shot batch build over the union — the merged partials must
    // reproduce it EXACTLY (scores included): df partials sum to the
    // global df, (n, sum_dl) partials merge to the global stats; the
    // adopted-count batch 2 lands in the same 8-bucket layout, so the
    // equality also proves the adoption wrote no stray tb= dirs
    val oneShot = tempDir("bm25oneshot")
    TextOps.materializeBm25Index(corpus, "doc_id", "text", oneShot, numBuckets = 8)
    assert(streamed === probe(oneShot),
      "streamed BM25 partials diverge from the one-shot build")
    assert(streamed.nonEmpty)
    // the replay never double-counted: every df in the store ≤ N docs
    val n = corpus.count()
    val maxDf = spark.read.parquet(s"$base/idx/dict")
      .groupBy("term").agg(sum($"df").as("df"))
      .agg(max($"df")).head().getLong(0)
    assert(maxDf <= n, s"df $maxDf exceeds corpus size $n — replay double-counted")
    // what IS still refused: streamed appends into a one-shot (tb=)
    // layout — the probe's direct-dir read would silently never see them
    val ex = intercept[IllegalArgumentException] {
      CdcStream.bm25IndexApplyBatch(
        batch3, 3L, oneShot, "doc_id", "text", numBuckets = 8)
    }
    assert(ex.getMessage.contains("one-shot"))
  }

  test("boilerplateMaintain: cumulative threshold crossing, straggler retention, replay never double-counts") {
    // minDocs=5; EDGE arrives in one doc per batch after the first —
    // chosen so a replay that double-counted batch 1's partial would
    // flip batch 2's decision from keep to strip
    val base = tempDir("bpmaint")
    def doc(id: Long, para: String) = Seq((id, s"$para\nunique $id")).toDF("doc_id", "text")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.boilerplateApplyBatch(
        b, id, s"$base/counts", s"$base/out", "doc_id", "text",
        minDocs = 5, sep = "\n", numBuckets = 8)
    applyBatch(doc(1L, "EDGE").unionByName(doc(2L, "EDGE")), 0L) // cum 2 — kept
    applyBatch(doc(3L, "EDGE"), 1L) // the crashed attempt (cum 3 — kept)
    applyBatch(doc(3L, "EDGE"), 1L) // the replay — must not double-count
    applyBatch(doc(4L, "EDGE"), 2L) // cum 4 < 5 ONLY if the replay was clean
    applyBatch(doc(5L, "EDGE"), 3L) // cum 5 — crosses, strips
    val out = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_paras", "kept_paras", "stripped_text")
      .as[(Long, Int, Int, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // one row per doc — the replayed batch overwrote its own output
    assert(out.size === 5)
    // pre-crossing occurrences keep EDGE (stragglers stay)
    assert(out(1L) === ((2, 2, "EDGE\nunique 1")))
    assert(out(3L) === ((2, 2, "EDGE\nunique 3")))
    assert(out(4L) === ((2, 2, "EDGE\nunique 4")),
      "batch-2 stripped EDGE at cum 4 — the replayed batch-1 partial was double-counted")
    // the crossing batch strips; doc-unique paragraphs always survive
    assert(out(5L) === ((2, 1, "unique 5")))
    // drifting a layout parameter against the existing store is refused
    val ex = intercept[IllegalStateException] {
      CdcStream.boilerplateApplyBatch(
        doc(6L, "EDGE"), 4L, s"$base/counts", s"$base/out", "doc_id", "text",
        minDocs = 3, sep = "\n", numBuckets = 8)
    }
    assert(ex.getMessage.contains("boilerplate"))
  }

  test("hammingAdmitMaintain: per-trigger admission equals the one-shot stored-banded form; replaying the last batch is a no-op") {
    import graft.ext.Dedup
    // synthetic 64-bit sketches: batch-2 carries exact copies of batch-1
    // hashes (dup_snapshot), fresh hashes (new), and low-bit perturbations
    // of the fresh ones arriving later in the same batch (dup_batch)
    val d = Tables.load(spark, sf0001, "documents")
    val b1 = d.where($"doc_id" < 200)
      .select($"doc_id".cast("long").as("media_id"), xxhash64($"text").as("hh"))
    val b2 = d.where($"doc_id" < 200 && $"doc_id" % 10 === 0)
      .select(($"doc_id" + 200000L).as("media_id"), xxhash64($"text").as("hh"))
      .unionByName(d.where($"doc_id" < 200 && $"doc_id" % 7 === 3)
        .select(($"doc_id" + 300000L).as("media_id"),
          xxhash64(concat($"text", lit("salt"))).as("hh")))
      .unionByName(d.where($"doc_id" < 200 && $"doc_id" % 7 === 3)
        .select(($"doc_id" + 400000L).as("media_id"),
          xxhash64(concat($"text", lit("salt"))).bitwiseXOR(lit(1L)).as("hh")))
    val base = tempDir("hammaint")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.hammingAdmitApplyBatch(
        b, id, s"$base/idx", s"$base/out", "media_id", "hh",
        radius = 11, blocks = 4, probeBits = 2)
    applyBatch(b1, 0L)
    applyBatch(b2, 1L) // crashed attempt
    applyBatch(b2, 1L) // replay
    val streamed = spark.read.parquet(s"$base/out/ingest_batch=1")
      .select($"id", $"status").as[(Long, String)].collect().toMap
    val oneShot = Dedup
      .hammingAdmitBanded(
        Dedup.hammingIndexBanded(b1, "media_id", "hh"), b2, "media_id", "hh", radius = 11)
      .select($"id", $"status").as[(Long, String)].collect().toMap
    assert(streamed === oneShot,
      "streamed admission diverges from the one-shot stored-banded form")
    // all three fates are really present
    assert(Set("dup_snapshot", "dup_batch", "new").subsetOf(streamed.values.toSet))
    // the replay did not duplicate banded rows in the store
    val store = spark.read.parquet(s"$base/idx")
    assert(store.count() === store.dropDuplicates("blk", "key", "id").count(),
      "replay duplicated banded rows")
  }

  test("compactSubstringStore: folds old partitions into one, preserves the gram set and downstream strips; resumes after a mid-compaction crash") {
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    def slice(lo: Int, hi: Int) = d.where($"doc_id" >= lo && $"doc_id" < hi)
      .select($"doc_id".cast("long").as("doc_id"), $"text")
    val base = tempDir("stripcompact")
    val idx = s"$base/idx"
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.substringStripApplyBatch(
        b, id, idx, s"$base/out", k = 10, hashKey = true, numBuckets = 16)
    applyBatch(slice(0, 80), 0L)
    applyBatch(slice(80, 160), 1L)
    val before = spark.read.parquet(idx).select("g").as[Long].collect().toSet
    BatchedStore.Gram.compact(spark, idx, upToBatch = 1L)
    assert(spark.read.parquet(idx).select("g").as[Long].collect().toSet === before)
    val dirs = new java.io.File(idx).listFiles
      .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).toSet
    assert(dirs === Set("ingest_batch=1"), s"compaction left $dirs")
    // a later batch carrying copies of batch-0 docs still strips them
    // against the compacted store exactly as the one-shot pipeline would
    val copies = slice(0, 80).where($"doc_id" % 10 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"),
        concat(lit("xdupsalt "), $"text").as("text"))
    applyBatch(copies, 2L)
    val corpus = slice(0, 160).unionByName(copies)
    val full = Dedup.stripSpans(corpus, "doc_id", "text",
        Dedup.exactSubstringSpans(corpus, "doc_id", "text", k = 10, hashKey = true)
          .select("doc_id", "spans"))
      .select("doc_id", "n_tokens", "kept_tokens", "stripped_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_tokens", "kept_tokens", "stripped_text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed === full, "post-compaction strip diverged from the one-shot pipeline")
    // crash-resume: staged set committed AND stamped for upToBatch=2,
    // one source partition already deleted, rename never happened — a
    // re-run must resume from the staged dir, not re-derive from the
    // partially-deleted store
    val expected = spark.read.parquet(idx).select("g").as[Long].collect().toSet
    def stage(upTo: Long): Unit = {
      spark.read.parquet(idx).where($"ingest_batch" <= upTo).select("g", "gb")
        .write.mode("overwrite").partitionBy("gb").parquet(s"$idx.compact")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$idx.compact/_GRAFT_COMPACT_META"),
        s"compact:upTo=$upTo:v1".getBytes("UTF-8"))
      ()
    }
    stage(2L)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(s"$idx/ingest_batch=1"))
    BatchedStore.Gram.compact(spark, idx, upToBatch = 2L)
    assert(spark.read.parquet(idx).select("g").as[Long].collect().toSet === expected,
      "resume after mid-compaction crash lost grams")
    // a committed stage for one upToBatch must REFUSE a resume under a
    // different one — skipping the fold would delete the extra batches'
    // partitions and rename the stale fold over them
    applyBatch(slice(160, 200), 3L)
    applyBatch(slice(200, 240), 4L)
    stage(3L)
    val refused = intercept[IllegalArgumentException] {
      BatchedStore.Gram.compact(spark, idx, upToBatch = 4L)
    }
    assert(refused.getMessage.contains("upTo=3"),
      s"refusal must name the staged target, got: ${refused.getMessage}")
    // the refused store is untouched; finishing the staged compaction
    // and then compacting to 4 converges to the same gram set
    val expected2 = spark.read.parquet(idx).select("g").as[Long].collect().toSet
    BatchedStore.Gram.compact(spark, idx, upToBatch = 3L)
    BatchedStore.Gram.compact(spark, idx, upToBatch = 4L)
    assert(spark.read.parquet(idx).select("g").as[Long].collect().toSet === expected2,
      "finish-then-advance compaction changed the gram set")
    // a stage that crashed BETWEEN the fold commit and the META stamp is
    // re-derived (no deletes can have run yet — the store is intact)
    applyBatch(slice(240, 280), 5L)
    spark.read.parquet(idx).where($"ingest_batch" <= 5).select("g", "gb")
      .write.mode("overwrite").partitionBy("gb").parquet(s"$idx.compact")
    val expected3 = spark.read.parquet(idx).select("g").as[Long].collect().toSet
    BatchedStore.Gram.compact(spark, idx, upToBatch = 5L)
    assert(spark.read.parquet(idx).select("g").as[Long].collect().toSet === expected3,
      "unstamped stage (crash before META) must re-derive, not lose grams")
  }

  test("compactHammingStore / compactWinnowStore: fold-then-probe equals probe (concatenation folds)") {
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    def slice(lo: Int, hi: Int) = d.where($"doc_id" >= lo && $"doc_id" < hi)

    // hamming: two batches of sketches, compact, then a third batch's
    // admission must equal the one-shot stored-banded form over b1 ∪ b2
    val hb = tempDir("hamcompact")
    def hsk(df: org.apache.spark.sql.DataFrame, off: Long, salt: String) = df.select(
      ($"doc_id" + off).cast("long").as("media_id"),
      xxhash64(concat($"text", lit(salt))).as("hh"))
    val h1 = hsk(slice(0, 100), 0L, "")
    val h2 = hsk(slice(100, 200), 0L, "")
    val h3 = hsk(slice(0, 200).where($"doc_id" % 10 === 0), 500000L, "") // copies
      .unionByName(hsk(slice(0, 200).where($"doc_id" % 7 === 3), 600000L, "x")) // new
    def hApply(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.hammingAdmitApplyBatch(b, id, s"$hb/idx", s"$hb/out",
        "media_id", "hh", radius = 11, blocks = 4, probeBits = 2)
    hApply(h1, 0L); hApply(h2, 1L)
    val hRows = spark.read.parquet(s"$hb/idx")
      .select("blk", "key", "id", "hh").as[(Int, Long, Long, Long)].collect().toSet
    BatchedStore.Ham.compact(spark, s"$hb/idx", upToBatch = 1L)
    assert(spark.read.parquet(s"$hb/idx")
      .select("blk", "key", "id", "hh").as[(Int, Long, Long, Long)].collect().toSet === hRows,
      "hamming fold lost or duplicated banded rows")
    assert(new java.io.File(s"$hb/idx").listFiles
      .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).toSet
      === Set("ingest_batch=1"))
    hApply(h3, 2L)
    val hStreamed = spark.read.parquet(s"$hb/out/ingest_batch=2")
      .select($"id", $"status").as[(Long, String)].collect().toMap
    val hOneShot = Dedup.hammingAdmitBanded(
        Dedup.hammingIndexBanded(h1.unionByName(h2), "media_id", "hh"),
        h3, "media_id", "hh", radius = 11)
      .select($"id", $"status").as[(Long, String)].collect().toMap
    assert(hStreamed === hOneShot, "post-compaction hamming admission diverged")

    // winnow: same lifecycle over the fingerprint store
    val wb = tempDir("wincompact")
    def wdoc(df: org.apache.spark.sql.DataFrame, off: Long, pre: String) = df.select(
      ($"doc_id" + off).cast("long").as("doc_id"),
      concat(lit(pre), $"text").as("text"))
    val w1 = wdoc(slice(0, 100), 0L, "")
    val w2 = wdoc(slice(100, 200), 0L, "")
    val w3 = wdoc(slice(0, 200).where($"doc_id" % 10 === 0), 500000L, "xdupsalt ")
    def wApply(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.winnowAdmitApplyBatch(b, id, s"$wb/idx", s"$wb/out",
        "doc_id", "text", w = 5, windowSize = 4, minShared = 3, maxDf = 8L,
        numBuckets = 16, portable = false)
    wApply(w1, 0L); wApply(w2, 1L)
    val wRows = spark.read.parquet(s"$wb/idx")
      .select("fb", "id", "fp").as[(Int, Long, Long)].collect().toSet
    BatchedStore.Win.compact(spark, s"$wb/idx", upToBatch = 1L)
    assert(spark.read.parquet(s"$wb/idx")
      .select("fb", "id", "fp").as[(Int, Long, Long)].collect().toSet === wRows,
      "winnow fold lost or duplicated postings")
    // the third batch's probe against the compacted store must match a
    // twin store that was never compacted
    val wb2 = tempDir("wincompact_twin")
    def wApply2(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.winnowAdmitApplyBatch(b, id, s"$wb2/idx", s"$wb2/out",
        "doc_id", "text", w = 5, windowSize = 4, minShared = 3, maxDf = 8L,
        numBuckets = 16, portable = false)
    wApply2(w1, 0L); wApply2(w2, 1L); wApply2(w3, 2L)
    wApply(w3, 2L)
    val wCompacted = spark.read.parquet(s"$wb/out/ingest_batch=2")
      .as[(Long, String)].collect().toMap
    val wTwin = spark.read.parquet(s"$wb2/out/ingest_batch=2")
      .as[(Long, String)].collect().toMap
    assert(wCompacted === wTwin, "post-compaction winnow admission diverged")
    assert(wCompacted.values.exists(_ == "dup_snapshot"), "fixture lost its planted dups")
  }

  test("re-bucketing fold: marker re-stamps, maintainers adopt the new count, probes unchanged") {
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    def slice(lo: Int, hi: Int) = d.where($"doc_id" >= lo && $"doc_id" < hi)
    def wdoc(df: org.apache.spark.sql.DataFrame, off: Long, pre: String) = df.select(
      ($"doc_id" + off).cast("long").as("doc_id"),
      concat(lit(pre), $"text").as("text"))
    val w1 = wdoc(slice(0, 100), 0L, "")
    val w2 = wdoc(slice(100, 200), 0L, "")
    val w3 = wdoc(slice(0, 200).where($"doc_id" % 10 === 0), 500000L, "xdupsalt ")
    val base = tempDir("winrebucket")
    // note every apply call passes numBuckets = 16: after the
    // re-bucketing fold the maintainer must ADOPT the marker's 64, not
    // mix layouts or demand a coordinated parameter change
    def wApply(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.winnowAdmitApplyBatch(b, id, s"$base/idx", s"$base/out",
        "doc_id", "text", w = 5, windowSize = 4, minShared = 3, maxDf = 8L,
        numBuckets = 16, portable = false)
    wApply(w1, 0L); wApply(w2, 1L)
    val postingsBefore = spark.read.parquet(s"$base/idx")
      .select("id", "fp").as[(Long, Long)].collect().toSet
    BatchedStore.Win.compact(spark, s"$base/idx", upToBatch = 1L, newBuckets = Some(64))
    assert(BatchedStore.stampedBuckets(spark, s"$base/idx") === Some(64),
      "re-bucketing fold did not re-stamp the marker")
    val folded = spark.read.parquet(s"$base/idx")
    assert(folded.select("id", "fp").as[(Long, Long)].collect().toSet === postingsBefore,
      "re-bucketing fold lost or duplicated postings")
    // every row's bucket matches the NEW layout rule
    assert(folded.where(pmod(xxhash64($"fp"), lit(64)).cast("int") =!= $"fb").count() === 0L,
      "folded rows carry stale bucket assignments")
    assert(folded.agg(max($"fb")).head().getInt(0) > 15,
      "re-bucket produced no bucket above the old range — fold likely kept old fb")
    // twin store never compacted, never re-bucketed — batch 3 must agree
    val twin = tempDir("winrebucket_twin")
    def wApplyTwin(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.winnowAdmitApplyBatch(b, id, s"$twin/idx", s"$twin/out",
        "doc_id", "text", w = 5, windowSize = 4, minShared = 3, maxDf = 8L,
        numBuckets = 16, portable = false)
    wApplyTwin(w1, 0L); wApplyTwin(w2, 1L); wApplyTwin(w3, 2L)
    wApply(w3, 2L)
    val got = spark.read.parquet(s"$base/out/ingest_batch=2")
      .as[(Long, String)].collect().toMap
    val want = spark.read.parquet(s"$twin/out/ingest_batch=2")
      .as[(Long, String)].collect().toMap
    assert(got === want, "admission diverged after the re-bucketing fold")
    // and the post-fold append landed under the NEW bucket layout
    val appended = spark.read.parquet(s"$base/idx").where($"ingest_batch" === 2L)
    assert(appended.where(pmod(xxhash64($"fp"), lit(64)).cast("int") =!= $"fb").count() === 0L,
      "post-fold append did not adopt the re-stamped bucket count")

    // maintainStores fragmentation gate: a store with fewer batch dirs
    // than the bound is left untouched
    val mroot = tempDir("maintgate")
    def mApply(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.winnowAdmitApplyBatch(b, id, s"$mroot/win", s"$mroot/wstat",
        "doc_id", "text", w = 5, windowSize = 4, minShared = 3, maxDf = 8L,
        numBuckets = 16, portable = false)
    mApply(w1, 0L); mApply(w2, 1L)
    val gated = CdcStream.maintainStores(spark, mroot, 1L, None, minBatchDirs = 10)
    assert(gated.isEmpty, "fragmentation gate folded an unfragmented store")
    assert(new java.io.File(s"$mroot/win").listFiles
      .count(_.getName.startsWith("ingest_batch=")) === 2)
    val folded2 = CdcStream.maintainStores(spark, mroot, 1L, None, minBatchDirs = 2)
    assert(folded2 === Seq("win"), "gate at the bound did not fold")
    assert(new java.io.File(s"$mroot/win").listFiles
      .count(_.getName.startsWith("ingest_batch=")) === 1)
  }

  test("compactBoilerplateStore: partial-sum fold preserves cumulative counts and shrinks rows") {
    def doc(id: Long, paras: String*) = Seq((id, paras.mkString("\n"))).toDF("doc_id", "text")
    val base = tempDir("bpcompact")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.boilerplateApplyBatch(b, id, s"$base/counts", s"$base/out",
        "doc_id", "text", minDocs = 3, sep = "\n", numBuckets = 8)
    // EDGE reaches cumulative df 2 over two batches (one doc each), so
    // the merge fold MUST carry both partials for batch 2 to strip at 3
    applyBatch(doc(1L, "EDGE", "unique 1"), 0L)
    applyBatch(doc(2L, "EDGE", "unique 2"), 1L)
    val before = spark.read.parquet(s"$base/counts")
      .groupBy("ph").agg(sum($"n_docs").as("n")).as[(String, Long)].collect().toMap
    BatchedStore.Counts.compact(spark, s"$base/counts", upToBatch = 1L)
    val after = spark.read.parquet(s"$base/counts")
      .groupBy("ph").agg(sum($"n_docs").as("n")).as[(String, Long)].collect().toMap
    assert(after === before, "fold changed cumulative paragraph counts")
    // EDGE folded from two partial rows to one
    val edgeRows = spark.read.parquet(s"$base/counts")
      .groupBy("ph").agg(count(lit(1)).as("k"))
      .as[(String, Long)].collect().toMap
    assert(edgeRows.values.max === 1L, "merge fold left multiple partials per key")
    // the crossing batch strips against the folded counts (2 prior + 1)
    applyBatch(doc(3L, "EDGE", "unique 3"), 2L)
    val out3 = spark.read.parquet(s"$base/out/ingest_batch=2")
      .select("doc_id", "stripped_text").as[(Long, String)].collect().toMap
    assert(out3(3L) === "unique 3",
      "cumulative threshold missed after compaction — a partial was lost in the fold")
  }

  test("compactBm25Index: probe results bit-identical across the three-sub-table fold; dict partials merge") {
    import graft.ext.TextOps
    val d = Tables.load(spark, sf0001, "documents")
    val corpus = d.where($"doc_id" < 300).select(
      $"doc_id",
      when($"doc_id" % 50 === 7, concat($"text", lit(" zzq"), $"doc_id"))
        .otherwise($"text").as("text"))
    val queries = corpus.where($"doc_id" % 50 === 7)
      .select($"doc_id".as("q_id"),
        concat(lit("zzq"), $"doc_id", lit(" "),
          array_join(slice(split(trim($"text"), "\\s+"), 1, 4), " ")).as("qtext"))
    val base = tempDir("bm25compact")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.bm25IndexApplyBatch(b, id, s"$base/idx", "doc_id", "text", numBuckets = 16)
    applyBatch(corpus.where($"doc_id" % 2 === 0), 0L)
    applyBatch(corpus.where($"doc_id" % 2 === 1), 1L)
    def probe() = TextOps.bm25TopKStored(spark, s"$base/idx", queries, "q_id", "qtext", k = 3)
      .select("q_id", "doc_id", "rank", "score_e6", "tf_sum", "n_terms")
      .as[(Long, Long, Int, Long, Long, Long)].collect().toSet
    val before = probe()
    CdcStream.compactBm25Index(spark, s"$base/idx", upToBatch = 1L)
    // the fold is also the block-max re-arm: the marker is up and the
    // post-compaction probe (now running the certified early-termination
    // loop) must still be bit-identical
    assert(TextOps.hasBm25BlockMax(spark, s"$base/idx"),
      "compaction did not arm the block-max sidecar")
    assert(probe() === before, "BM25 probe changed across compaction")
    assert(TextOps.lastBlockMaxStats.nonEmpty,
      "post-compaction probe did not take the block-max path")
    // each sub-table folded to one ingest_batch dir; dict df partials
    // merged to one row per (term, tb)
    for (sub <- Seq("postings", "dict", "stats"))
      assert(new java.io.File(s"$base/idx/$sub").listFiles
        .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).toSet
        === Set("ingest_batch=1"), s"$sub not folded")
    val dict = spark.read.parquet(s"$base/idx/dict")
    assert(dict.count() === dict.dropDuplicates("term").count(),
      "dict fold left multiple df partials per term")
    assert(spark.read.parquet(s"$base/idx/stats").count() === 1L,
      "stats fold left multiple partials")
  }

  test("compactBm25Index block-max lifecycle: armed probes equal the full-scan twin; appends disarm; leftover partials skip arming; one-shot layout refused") {
    import graft.ext.TextOps
    val d = Tables.load(spark, sf0001, "documents")
    // force multi-block terms (blockSize=2) so the armed probe genuinely
    // certifies against unseen mass instead of admitting everything
    val corpus = d.where($"doc_id" < 300).select($"doc_id", $"text")
    val queries = corpus.where($"doc_id" % 40 === 3)
      .select($"doc_id".as("q_id"),
        array_join(slice(split(trim($"text"), "\\s+"), 2, 4), " ").as("qtext"))
    val base = tempDir("bm25bmlife")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long, path: String): Unit =
      CdcStream.bm25IndexApplyBatch(b, id, path, "doc_id", "text", numBuckets = 16)
    def probe(path: String) =
      TextOps.bm25TopKStored(spark, path, queries, "q_id", "qtext", k = 3)
        .select("q_id", "doc_id", "rank", "score_e6", "tf_sum", "n_terms")
        .as[(Long, Long, Int, Long, Long, Long)].collect().toSet
    // twin A: maintained then compacted with the sidecar armed
    applyBatch(corpus.where($"doc_id" % 2 === 0), 0L, s"$base/idx")
    applyBatch(corpus.where($"doc_id" % 2 === 1), 1L, s"$base/idx")
    CdcStream.compactBm25Index(spark, s"$base/idx", upToBatch = 1L, blockSize = 2)
    // twin B: same corpus, same fold, marker disarmed — the always-safe
    // full scan the certificate claims to reproduce
    applyBatch(corpus.where($"doc_id" % 2 === 0), 0L, s"$base/twin")
    applyBatch(corpus.where($"doc_id" % 2 === 1), 1L, s"$base/twin")
    CdcStream.compactBm25Index(spark, s"$base/twin", upToBatch = 1L, blockSize = 2)
    TextOps.clearBm25BlockMax(spark, s"$base/twin")
    assert(TextOps.hasBm25BlockMax(spark, s"$base/idx"))
    assert(!TextOps.hasBm25BlockMax(spark, s"$base/twin"))
    val armed = probe(s"$base/idx")
    assert(TextOps.lastBlockMaxStats.nonEmpty, "armed probe skipped the block-max path")
    val full = probe(s"$base/twin")
    assert(TextOps.lastBlockMaxStats.isEmpty, "disarmed twin took the block-max path")
    assert(armed === full, "block-max probe diverges from the full-scan twin")
    assert(armed.nonEmpty)
    // the next streamed append DISARMS: its unblocked postings would be
    // invisible to the stale sidecar's block filter
    applyBatch(
      corpus.where($"doc_id" === 0).select(($"doc_id" + 9000L).as("doc_id"), $"text"),
      2L, s"$base/idx")
    assert(!TextOps.hasBm25BlockMax(spark, s"$base/idx"),
      "append over an armed index left the stale sidecar armed")
    assert(!new java.io.File(s"$base/idx/blockmax").exists(),
      "append left the stale blockmax table behind")
    // compacting BELOW a leftover (uncommitted/crashed) batch folds but
    // must NOT arm — the leftover's postings carry no block assignment
    CdcStream.compactBm25Index(spark, s"$base/idx", upToBatch = 1L, blockSize = 2)
    assert(!TextOps.hasBm25BlockMax(spark, s"$base/idx"),
      "compaction armed the sidecar over a leftover unblocked partition")
    assert(probe(s"$base/idx").nonEmpty)
    // a one-shot materializeBm25Index table refuses streamed appends —
    // its tb= layout cannot absorb ingest_batch= partials
    val oneShot = tempDir("bm25oneshotrefuse")
    TextOps.materializeBm25Index(corpus, "doc_id", "text", oneShot, numBuckets = 16)
    val ex = intercept[IllegalArgumentException] {
      applyBatch(corpus.where($"doc_id" === 1), 0L, oneShot)
    }
    assert(ex.getMessage.contains("one-shot"))
  }

  test("pipelineWidthFor: micro-batches take the override, backlog-sized batches keep the session width") {
    // cadence-sized trigger: the 8-task override wins
    assert(CdcStream.pipelineWidthFor(5000L, 8, 32) == 8)
    assert(CdcStream.pipelineWidthFor(CdcStream.MicroBatchWidthRows, 8, 32) == 8)
    // backlog/backfill trigger (AvailableNow drain, bursty source): the
    // session's own width wins — capped 8-task parallelism on a large
    // batch is the OOM/stragggler shape the override must not impose
    assert(CdcStream.pipelineWidthFor(CdcStream.MicroBatchWidthRows + 1, 8, 32) == 32)
    // a session narrower than the override never shrinks further
    assert(CdcStream.pipelineWidthFor(1000000L, 8, 4) == 8)
  }

  test("ingestPipelineApplyBatch: batch-scoped shuffle width is restored after the trigger") {
    // the micro-batch width override (shuffleWidth=8 by default) must
    // never leak past the trigger's commit barrier — on success OR on a
    // failed stage (the conf-leak class the r13 stress harness hit)
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    val e = Tables.load(spark, sf0001, "embeddings").select($"vec_id", $"embedding")
    val b = d.where($"doc_id" < 40)
      .join(e, d("doc_id") === e("vec_id"))
      .select(d("doc_id"), $"text", xxhash64($"text").as("hh"), $"embedding".as("emb"))
    val base = tempDir("pipewidth")
    val ref = e.where($"vec_id" % 3 === 1)
    Dedup.writeSemanticIndex(
      Dedup.semanticIndex(ref, "vec_id", "embedding", 16),
      Dedup.semanticSeeds(ref, "vec_id", "embedding", 16),
      s"$base/semidx")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "17")
      CdcStream.ingestPipelineApplyBatch(
        b, 0L, s"$base/store", s"$base/semidx", "doc_id", "text", "hh", "emb",
        k = 10, minDocsBoiler = 5, w = 4, windowSize = 3, minShared = 3,
        maxDf = 8L, radius = 11, threshold = 0.9, numBuckets = 8,
        hashKey = true, portable = false)
      assert(spark.conf.get(key) == "17", "width override leaked past a committed trigger")
      // failed trigger: a drifted gram-store layout param is a hard
      // error inside stage 2 — the restore must still run
      intercept[Exception] {
        CdcStream.ingestPipelineApplyBatch(
          b, 1L, s"$base/store", s"$base/semidx", "doc_id", "text", "hh", "emb",
          k = 11, minDocsBoiler = 5, w = 4, windowSize = 3, minShared = 3,
          maxDf = 8L, radius = 11, threshold = 0.9, numBuckets = 8,
          hashKey = true, portable = false)
      }
      assert(spark.conf.get(key) == "17", "width override leaked past a failed trigger")
    } finally spark.conf.set(key, prev)
  }

  test("ingestPipelineApplyBatch: five-stage composition is replay-idempotent and stores stay sets") {
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    val e = Tables.load(spark, sf0001, "embeddings").select($"vec_id", $"embedding")
    def rows(lo: Int, hi: Int) = d.where($"doc_id" >= lo && $"doc_id" < hi)
      .join(e, d("doc_id") === e("vec_id"))
      .select(d("doc_id"), $"text", xxhash64($"text").as("hh"), $"embedding".as("emb"))
    val base = tempDir("pipemaint")
    val ref = e.where($"vec_id" % 3 === 1)
    Dedup.writeSemanticIndex(
      Dedup.semanticIndex(ref, "vec_id", "embedding", 16),
      Dedup.semanticSeeds(ref, "vec_id", "embedding", 16),
      s"$base/semidx")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.ingestPipelineApplyBatch(
        b, id, s"$base/store", s"$base/semidx", "doc_id", "text", "hh", "emb",
        k = 10, minDocsBoiler = 5, w = 4, windowSize = 3, minShared = 3,
        maxDf = 8L, radius = 11, threshold = 0.9, numBuckets = 8,
        hashKey = true, portable = false)
    val b0 = rows(0, 100)
    // batch 1: fresh docs + an exact text copy of a batch-0 doc (winnow
    // dup_snapshot after the substring stage guts it — either way a
    // non-admitted fate) + an exact sketch copy on a fresh text
    val copyText = rows(0, 100).where($"doc_id" === 30)
      .select(($"doc_id" + 9000L).as("doc_id"), $"text", ($"hh" + 12345L).as("hh"), $"emb")
    val copySketch = rows(0, 100).where($"doc_id" === 40)
      .select(($"doc_id" + 9100L).as("doc_id"),
        concat(lit("fresh unique words one two three four five six seven eight nine "),
          $"doc_id").as("text"),
        $"hh", $"emb")
    val b1 = rows(100, 200).unionByName(copyText).unionByName(copySketch)
    applyBatch(b0, 0L)
    applyBatch(b1, 1L) // crashed attempt
    val first = spark.read.parquet(s"$base/store/admitted/ingest_batch=1")
      .select("doc_id", "final_text", "winnow_status", "perceptual_status",
        "semantic_status", "admitted")
      .as[(Long, String, String, String, String, Boolean)].collect().toSet
    applyBatch(b1, 1L) // replay
    val replayed = spark.read.parquet(s"$base/store/admitted/ingest_batch=1")
      .select("doc_id", "final_text", "winnow_status", "perceptual_status",
        "semantic_status", "admitted")
      .as[(Long, String, String, String, String, Boolean)].collect().toSet
    assert(replayed === first, "replaying the composed batch changed its admissions")
    // the planted fates really happened: the exact text copy is fully
    // GUTTED by the substring stage (every gram already stored), the
    // sketch copy is caught by the perceptual stage
    val byId = replayed.map(t => t._1 -> ((t._2, t._4))).toMap
    assert(byId(9030L)._1 === "", "text copy of doc 30 survived the substring stage")
    assert(byId(9140L)._2 === "dup_snapshot", "sketch copy of doc 40 missed the hamming stage")
    // every store stayed a set across the replay
    val win = spark.read.parquet(s"$base/store/win")
    assert(win.count() === win.dropDuplicates("id", "fp").count(), "winnow store duplicated")
    val ham = spark.read.parquet(s"$base/store/ham")
    assert(ham.count() === ham.dropDuplicates("blk", "key", "id").count(), "ham store duplicated")
    val gram = spark.read.parquet(s"$base/store/gram")
    assert(gram.count() === gram.dropDuplicates("g").count(), "gram store duplicated")
  }

  test("ingestPipelineApplyBatch: a duplicate partner killed upstream never marks the survivor (speculative post-filter)") {
    // THE regression pin for the speculative probe legs: stages 4/5
    // probe the FULL batch concurrently with the text stages, so their
    // in-batch pairs must be post-filtered to survivors on BOTH
    // endpoints — a pair whose earlier doc was killed upstream never
    // existed in the survivors-only semantics.
    import graft.ext.Dedup
    val d = Tables.load(spark, sf0001, "documents")
    val e = Tables.load(spark, sf0001, "embeddings").select($"vec_id", $"embedding")
    def rows(lo: Int, hi: Int) = d.where($"doc_id" >= lo && $"doc_id" < hi)
      .join(e, d("doc_id") === e("vec_id"))
      .select(d("doc_id"), $"text", xxhash64($"text").as("hh"), $"embedding".as("emb"))
    val base = tempDir("pipespecfilter")
    val ref = e.where($"vec_id" % 3 === 1)
    Dedup.writeSemanticIndex(
      Dedup.semanticIndex(ref, "vec_id", "embedding", 16),
      Dedup.semanticSeeds(ref, "vec_id", "embedding", 16),
      s"$base/semidx")
    def applyBatch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CdcStream.ingestPipelineApplyBatch(
        b, id, s"$base/store", s"$base/semidx", "doc_id", "text", "hh", "emb",
        k = 10, minDocsBoiler = 5, w = 4, windowSize = 3, minShared = 3,
        maxDf = 8L, radius = 11, threshold = 0.9, numBuckets = 8,
        hashKey = true, portable = false)
    applyBatch(rows(0, 100), 0L)
    // corner 1 (hamming): aPrime/a are winnow near-dups (shared 6-8
    // token runs — BELOW the k=10 substring gram so the text is not
    // gutted, ABOVE w+windowSize-1=6 so fingerprints are shared); a and
    // bSurv share a sketch. a dies at winnow (dup_batch after aPrime),
    // so bSurv must stay perceptual "new" — its only hamming partner
    // never survived to stage 4.
    val words = (1 to 24).map(i => s"zqword$i")
    val aPrimeText = words.mkString(" ")
    val aText = words.updated(7, "zqmutA").updated(15, "zqmutB").mkString(" ")
    val bText = (1 to 14).map(i => s"zqother$i").mkString(" ")
    // corner 2 (semantic): cDoc carries a STORED doc's sketch (dies
    // dup_snapshot at stage 4) and shares an embedding with dDoc; dDoc
    // must stay semantic "new" — its only semantic partner never
    // survived to stage 5.
    val cText = (1 to 14).map(i => s"zqc$i").mkString(" ")
    val dText = (1 to 14).map(i => s"zqd$i").mkString(" ")
    val hh40 = d.where($"doc_id" === 40).select(xxhash64($"text")).head.getLong(0)
    def emb(hot: Int): Array[Float] = Array.tabulate(64)(i => if (i == hot) 1.0f else 0.0f)
    val pairEmb = Array.tabulate(64)(i => if (i == 50) 0.6f else if (i == 51) 0.8f else 0.0f)
    val batch1 = Seq(
      (5000L, aPrimeText, 0L, emb(2)),
      (5001L, aText, -0x5555555555555556L, emb(3)), // 0xAAAA...
      (5002L, bText, -0x5555555555555556L, emb(4)),
      (5003L, cText, hh40, pairEmb),
      (5004L, dText, 0x5555555555555555L, pairEmb)
    ).toDF("doc_id", "text", "hh", "emb")
    applyBatch(batch1, 1L)
    val adm = spark.read.parquet(s"$base/store/admitted/ingest_batch=1")
      .select("doc_id", "winnow_status", "perceptual_status", "semantic_status")
      .as[(Long, String, String, String)].collect().map(t => t._1 -> t).toMap
    // the planted fates happened
    assert(adm(5001L)._2 === "dup_batch", s"a should die at winnow: ${adm(5001L)}")
    assert(adm(5003L)._3 === "dup_snapshot", s"c should die at hamming: ${adm(5003L)}")
    // the pins: surviving partners stay clean
    assert(adm(5002L)._2 === "new" && adm(5002L)._3 === "new",
      s"b's only hamming partner was winnow-killed — must be perceptual new: ${adm(5002L)}")
    assert(adm(5004L)._2 === "new" && adm(5004L)._3 === "new" && adm(5004L)._4 === "new",
      s"d's only semantic partner was hamming-killed — must be semantic new: ${adm(5004L)}")
  }

  test("maintainStores: maintain → stop → compact-from-checkpoint → resume equals the never-compacted twin") {
    import graft.ext.Dedup
    import org.apache.spark.sql.streaming.Trigger
    val d = Tables.load(spark, sf0001, "documents")
    val e = Tables.load(spark, sf0001, "embeddings").select($"vec_id", $"embedding")
    def rows(lo: Int, hi: Int) = d.where($"doc_id" >= lo && $"doc_id" < hi)
      .join(e, d("doc_id") === e("vec_id"))
      .select(d("doc_id"), $"text", xxhash64($"text").as("hh"), $"embedding".as("emb"))
    val ref = e.where($"vec_id" % 3 === 1)
    val b0 = rows(0, 60)
    val b1 = rows(60, 120)
    // batch 2 carries a text copy of a batch-0 doc and a sketch copy —
    // fates that PROBE the compacted stores, not just append to them
    val copyText = rows(0, 60).where($"doc_id" === 30)
      .select(($"doc_id" + 9000L).as("doc_id"), $"text", ($"hh" + 7L).as("hh"), $"emb")
    val copySketch = rows(0, 60).where($"doc_id" === 40)
      .select(($"doc_id" + 9100L).as("doc_id"),
        concat(lit("fresh unique words one two three four five six seven "),
          $"doc_id").as("text"),
        $"hh", $"emb")
    val b2 = rows(120, 180).unionByName(copyText).unionByName(copySketch)
    def lifecycle(compactBetween: Boolean): Set[(Long, String, String, String, String, Boolean)] = {
      val base = tempDir(if (compactBetween) "maintc" else "maintn")
      Dedup.writeSemanticIndex(
        Dedup.semanticIndex(ref, "vec_id", "embedding", 16),
        Dedup.semanticSeeds(ref, "vec_id", "embedding", 16),
        s"$base/semidx")
      val in = s"$base/in"
      def run(): Unit = {
        val q = CdcStream.ingestPipelineMaintain(
          spark.readStream.schema(b0.schema).option("maxFilesPerTrigger", 1).parquet(in),
          s"$base/store", s"$base/semidx", s"$base/ckpt",
          "doc_id", "text", "hh", "emb",
          k = 10, minDocsBoiler = 5, w = 4, windowSize = 3, minShared = 3,
          maxDf = 8L, radius = 11, threshold = 0.9, numBuckets = 8,
          hashKey = true, portable = false, trigger = Trigger.AvailableNow())
        q.awaitTermination()
      }
      // force strictly increasing mtimes so the two-batch drain order is
      // deterministic (FileStreamSource breaks mtime ties by file name)
      b0.coalesce(1).write.mode("append").parquet(in)
      def dataFiles = new java.io.File(in).listFiles.toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      val first = dataFiles.map(_.getName).toSet
      b1.coalesce(1).write.mode("append").parquet(in)
      val t0 = dataFiles.filter(f => first(f.getName)).map(_.lastModified).max
      dataFiles.filterNot(f => first(f.getName)).foreach(_.setLastModified(t0 + 60000L))
      run()
      if (compactBetween) {
        assert(CdcStream.lastCommittedBatch(spark, s"$base/ckpt") === Some(1L))
        val ran = CdcStream.maintainStores(spark, s"$base/store", s"$base/ckpt")
        assert(ran === Seq("counts", "gram", "win", "ham"), s"compacted $ran")
        // the fold really landed: every store is a single batch-1 dir
        Seq("counts", "gram", "win", "ham").foreach { sub =>
          val dirs = new java.io.File(s"$base/store/$sub").listFiles
            .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).toSet
          assert(dirs === Set("ingest_batch=1"), s"$sub left $dirs")
        }
      }
      b2.coalesce(1).write.mode("append").parquet(in)
      run() // the resumed stream's first trigger reads the (compacted) layout
      spark.read.parquet(s"$base/store/admitted")
        .select("doc_id", "final_text", "winnow_status", "perceptual_status",
          "semantic_status", "admitted")
        .as[(Long, String, String, String, String, Boolean)].collect().toSet
    }
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val (compacted, plain) =
      try (lifecycle(compactBetween = true), lifecycle(compactBetween = false))
      finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    assert(compacted === plain,
      "compact-between-runs lifecycle diverged from the never-compacted twin")
    // the planted cross-run fates really probed the compacted state
    val byId = compacted.map(t => t._1 -> ((t._2, t._4))).toMap
    assert(byId(9030L)._1 === "", "text copy of doc 30 survived the substring stage")
    assert(byId(9140L)._2 === "dup_snapshot", "sketch copy of doc 40 missed the hamming stage")
  }

  test("foreachBatch sink sees every batch exactly once per run") {
    val logPath = tempDir("fblog")
    val ckpt = tempDir("fbckpt")
    CdcLog.append(mkEvents(1 to 10), logPath)
    val log = CdcStream.readLogStream(spark, logPath, CdcLog.read(spark, logPath).schema)
    val delivery = CdcStream.deliveryStream(log, "dataschema", "assets")
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    val q = CdcStream.toForeachBatch(delivery, ckpt, Trigger.AvailableNow()) { (batch, _) =>
      counts += batch.count()
    }
    q.awaitTermination()
    assert(counts.sum == 10)
  }
}
