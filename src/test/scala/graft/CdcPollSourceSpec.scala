package graft

import org.apache.spark.sql.streaming.Trigger

import graft.log.CdcLog
import graft.sources.{CdcPollOffset, CdcPollTableProvider}

/** The cdcpoll DSv2 micro-batch source: lexicographic (ts, event_id)
  * offsets as the streaming watermark, footer-stats file pruning, resume
  * from checkpoint.
  */
class CdcPollSourceSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  private def mkEvents(ids: Range, day: Int) =
    ids.map { i =>
      (ts(f"2025-06-$day%02dT00:${i % 60}%02d:00Z"), "dataschema", "assets", "INSERT",
        null: String, s"""{"id":$i}""", i.toLong)
    }.toDF("ts", "schema_name", "table_name", "operation", "before", "after", "event_id")

  private def readPoll(logPath: String, extra: Map[String, String] = Map.empty) = {
    val r = spark.readStream
      .format(classOf[CdcPollTableProvider].getName)
      .option("path", logPath)
    extra.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  test("offset json round-trips") {
    val off = CdcPollOffset(1234567890123456L, 42L)
    assert(CdcPollOffset.fromJson(off.json()) == off)
  }

  test("streams the whole log once, then only the delta, with checkpoint resume") {
    val logPath = tempDir("cdcpoll") + "/log"
    val outPath = tempDir("cdcpollout") + "/out"
    val ckpt = tempDir("cdcpollckpt")
    CdcLog.append(mkEvents(1 to 20, day = 14), logPath)

    def runOnce(): Unit = {
      val q = readPoll(logPath).writeStream
        .format("parquet")
        .option("path", outPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val out1 = spark.read.parquet(outPath)
    assert(out1.count() == 20)
    assert(out1.columns.toSeq == graft.model.ChangeEvent.columns)

    CdcLog.append(mkEvents(21 to 30, day = 15), logPath)
    runOnce()
    // resumed query appends only the 10 new events — no re-delivery
    val out2 = spark.read.parquet(outPath)
    assert(out2.count() == 30)
    assert(out2.groupBy("event_id").count().where($"count" > 1).count() == 0)
  }

  test("start.timestamp option skips history before the initial offset") {
    val logPath = tempDir("cdcpollstart") + "/log"
    val ckpt = tempDir("cdcpollstartckpt")
    CdcLog.append(mkEvents(1 to 10, day = 14), logPath)
    CdcLog.append(mkEvents(11 to 20, day = 16), logPath)
    val q = readPoll(logPath, Map("startTimestamp" -> "2025-06-15T00:00:00Z"))
      .writeStream.format("memory").queryName("pollstart")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.sql("SELECT event_id FROM pollstart ORDER BY event_id")
      .as[Long].collect().toSeq
    assert(got == (11L to 20L))
  }

  test("maxFilesPerTrigger paces the stream into multiple complete batches") {
    val logPath = tempDir("cdcpollrate") + "/log"
    val ckpt = tempDir("cdcpollrateckpt")
    // three appends, three distinct days → at least 3 files with disjoint ranges
    CdcLog.append(mkEvents(1 to 5, day = 10), logPath)
    CdcLog.append(mkEvents(6 to 10, day = 12), logPath)
    CdcLog.append(mkEvents(11 to 15, day = 14), logPath)
    val batches = scala.collection.mutable.ArrayBuffer[Long]()
    val q = readPoll(logPath, Map("maxFilesPerTrigger" -> "1")).writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches += b.count(); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.sum == 15, s"batches=$batches")
    assert(batches.count(_ > 0) >= 2, s"expected pacing into multiple batches, got $batches")
  }

  test("batch read: backfill through the same source with start.timestamp") {
    val logPath = tempDir("cdcpollbatch") + "/log"
    CdcLog.append(mkEvents(1 to 10, day = 14), logPath)
    CdcLog.append(mkEvents(11 to 20, day = 16), logPath)
    val all = spark.read
      .format(classOf[CdcPollTableProvider].getName)
      .option("path", logPath)
      .load()
    assert(all.count() == 20)
    assert(all.columns.toSeq == graft.model.ChangeEvent.columns)
    val tail = spark.read
      .format(classOf[CdcPollTableProvider].getName)
      .option("path", logPath)
      .option("startTimestamp", "2025-06-15T00:00:00Z")
      .load()
    assert(tail.select("event_id").as[Long].collect().sorted.toSeq == (11L to 20L))
  }

  test("filter pushdown and column pruning reach the cdcpoll scan") {
    val logPath = tempDir("cdcpollpush") + "/log"
    CdcLog.append(mkEvents(1 to 10, day = 14), logPath)
    CdcLog.append(
      (11 to 20).map { i =>
        (ts(f"2025-06-14T01:${i % 60}%02d:00Z"), "dataschema", "anomaly", "INSERT",
          null: String, s"""{"id":$i}""", i.toLong)
      }.toDF("ts", "schema_name", "table_name", "operation", "before", "after", "event_id"),
      logPath)
    val df = spark.read
      .format(classOf[CdcPollTableProvider].getName)
      .option("path", logPath)
      .load()
      .where($"table_name" === "assets")
      .select("event_id", "operation")
    // pushed filter shows in the scan description and rows are filtered
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=EqualTo(table_name,assets)"), plan)
    assert(plan.contains("columns=") && !plan.contains("columns=ts,schema_name,table_name,operation,before,after,event_id"), plan)
    assert(df.count() == 10)
    assert(df.select("event_id").as[Long].collect().sorted.toSeq == (1L to 10L))
  }

  test("full EP2 through cdcpoll: source → view filter → envelope → topic files") {
    import graft.streaming.CdcStream
    val logPath = tempDir("cdcpollep2") + "/log"
    val outPath = tempDir("cdcpollep2out") + "/topics"
    val ckpt = tempDir("cdcpollep2ckpt")
    CdcLog.append(mkEvents(1 to 12, day = 14), logPath)
    val stream = readPoll(logPath)
    val delivery = CdcStream.deliveryStream(stream, "dataschema", "assets")
    val q = CdcStream.toTopicFiles(delivery, outPath, ckpt, Trigger.AvailableNow())
    q.awaitTermination()
    val out = spark.read.parquet(outPath)
    assert(out.count() == 12)
    assert(out.select("topic").distinct().as[String].collect().toSeq
      == Seq("cdc-event_log_assets"))
    val v = out.orderBy("key").select("value").as[String].head()
    assert(v.startsWith("""{"schema":{"type":"struct"""") && v.contains(""""payload":{"""))
  }

  test("footer stats are read once per file, not once per trigger") {
    import graft.sources.CdcPollMicroBatchStream
    val logPath = tempDir("cdcpollcache") + "/log"
    CdcLog.append(mkEvents(1 to 10, day = 10), logPath)
    CdcLog.append(mkEvents(11 to 20, day = 12), logPath)
    val stream = new CdcPollMicroBatchStream(logPath, Map.empty)
    val first = stream.latestOffset()
    val afterFirst = stream.footerReads.get()
    assert(afterFirst > 0)
    // repeated polls + partition planning reuse the memoized stats
    stream.latestOffset()
    stream.planInputPartitions(stream.initialOffset(), first)
    stream.latestOffset(stream.initialOffset(), org.apache.spark.sql.connector.read.streaming.ReadLimit.maxFiles(1))
    assert(stream.footerReads.get() == afterFirst, "cached footers were re-read")
    // new files pay exactly their own footer reads
    CdcLog.append(mkEvents(21 to 25, day = 14), logPath)
    stream.latestOffset()
    val afterAppend = stream.footerReads.get()
    assert(afterAppend > afterFirst)
    stream.latestOffset()
    assert(stream.footerReads.get() == afterAppend)
  }

  test("timestamp.delay holds back rows newer than now - delay, then releases them") {
    import graft.sources.{CdcPollMicroBatchStream, CdcPollOffset}
    val logPath = tempDir("cdcpolldelay") + "/log"
    CdcLog.append(mkEvents(1 to 10, day = 14), logPath) // ts within 2025-06-14T00:0x
    val stream = new CdcPollMicroBatchStream(logPath, Map("timestamp.delay.ms" -> "5000"))
    val t14 = java.time.Instant.parse("2025-06-14T00:05:00Z").toEpochMilli * 1000L
    // clock barely past the data: watermark = now-5s hides newer rows
    stream.clockMicros = () => t14
    val held = stream.latestOffset().asInstanceOf[CdcPollOffset]
    assert(held.tsMicros == t14 - 5000000L, s"expected capped watermark, got $held")
    // clock far past the data: everything visible, offset = real stats max
    stream.clockMicros = () => java.time.Instant.parse("2025-06-20T00:00:00Z").toEpochMilli * 1000L
    val released = stream.latestOffset().asInstanceOf[CdcPollOffset]
    val noDelay = new CdcPollMicroBatchStream(logPath, Map.empty)
    assert(released == noDelay.latestOffset().asInstanceOf[CdcPollOffset])
    // admission-control path never regresses below a committed start
    val start = CdcPollOffset(t14 + 60000000L, 99L)
    stream.clockMicros = () => t14
    val end = stream.latestOffset(start, org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[CdcPollOffset]
    assert(!end.lexLt(start), s"offset regressed: start=$start end=$end")
  }

  test("an append in progress under _temporary/ is invisible: only committed rows stream") {
    val logPath = tempDir("cdcpolltemp") + "/log"
    val ckpt = tempDir("cdcpolltempckpt")
    CdcLog.append(mkEvents(1 to 20, day = 14), logPath)
    // what a concurrent append leaves while its task is still writing:
    // a zero-length part file in the job's staging tree
    val staged = new java.io.File(
      s"$logPath/_temporary/0/_temporary/attempt_0/event_date=2025-06-15/part-00000-x.parquet")
    assert(staged.getParentFile.mkdirs() && staged.createNewFile())
    val q = readPoll(logPath).writeStream
      .format("memory").queryName("polltemp")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.sql("SELECT event_id FROM polltemp").as[Long].collect().sorted.toSeq
    assert(got == (1L to 20L))
  }

  test("a partition compaction staged under .compact-event_date=<d>/ is invisible: rows stream once") {
    val logPath = tempDir("cdcpollstage") + "/log"
    val ckpt = tempDir("cdcpollstageckpt")
    CdcLog.append(mkEvents(1 to 20, day = 14), logPath)
    // what CdcLog.compactPartition leaves while it stages a partition's
    // rewrite: a committed copy of the partition's rows in a
    // dot-prefixed sibling of the live partition
    val stage = new java.io.File(s"$logPath/.compact-event_date=2025-06-14")
    assert(stage.mkdirs())
    new java.io.File(s"$logPath/event_date=2025-06-14").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath, new java.io.File(stage, f.getName).toPath))
    val q = readPoll(logPath).writeStream
      .format("memory").queryName("pollstage")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.sql("SELECT event_id FROM pollstage").as[Long].collect().sorted.toSeq
    assert(got == (1L to 20L))
  }

  test("values survive the source intact (content parity with the parquet read)") {
    val logPath = tempDir("cdcpollparity") + "/log"
    val ckpt = tempDir("cdcpollparityckpt")
    CdcLog.append(mkEvents(1 to 15, day = 14), logPath)
    val q = readPoll(logPath).writeStream
      .format("memory").queryName("pollparity")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val viaSource = spark.sql("SELECT * FROM pollparity")
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val viaParquet = CdcLog.read(spark, logPath)
      .select(graft.model.ChangeEvent.columns.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(viaSource == viaParquet)
  }
}
