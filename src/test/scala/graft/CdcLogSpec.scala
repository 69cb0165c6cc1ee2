package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.log.CdcLog

/** S1-S5: partitioned append, retention, dedup, constraint checks,
  * defaults.
  */
class CdcLogSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(days: Seq[Int]) = {
    val rows = days.zipWithIndex.map { case (d, i) =>
      (java.sql.Timestamp.from(java.time.Instant.parse(f"2025-06-${d}%02dT12:00:00Z")),
        "dataschema", "assets", "INSERT", null: String, s"""{"id":$i}""", i.toLong)
    }
    rows.toDF("ts", "schema_name", "table_name", "operation", "before", "after", "event_id")
  }

  test("append partitions by event_date and reads back with pruning") {
    val path = tempDir("cdclog")
    CdcLog.append(mkEvents(Seq(1, 1, 2, 3)), path)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("event_date=2025-06-01", "event_date=2025-06-02", "event_date=2025-06-03"))
    val log = CdcLog.read(spark, path)
    assert(log.count() == 4)
    // partition-pruned read touches one partition only (metrics are read
    // from the same queryExecution that ran the collect)
    val one = log.where($"event_date" === "2025-06-02")
    assert(one.collect().length == 1)
    val scan = one.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).map(_.value)
    assert(scan.headOption.contains(1L), s"scan metrics: $scan")
  }

  test("retention drops whole partition directories older than the window") {
    val path = tempDir("cdcret")
    CdcLog.append(mkEvents(Seq(1, 5, 10, 20)), path)
    val dropped = CdcLog.applyRetention(spark, path, retainDays = 7,
      asOf = java.time.LocalDate.parse("2025-06-20"))
    assert(dropped.sorted == Seq("event_date=2025-06-01", "event_date=2025-06-05", "event_date=2025-06-10"))
    assert(CdcLog.read(spark, path).count() == 1)
  }

  test("compaction merges small files without changing content") {
    val path = tempDir("cdccompact")
    // five appends → five files in the partition
    (0 until 5).foreach(_ => CdcLog.append(mkEvents(Seq(1)), path))
    val partDir = new java.io.File(s"$path/event_date=2025-06-01")
    def dataFiles = partDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFiles == 5)
    val before = CdcLog.read(spark, path).orderBy("event_id").collect().toSeq
    CdcLog.compactPartition(spark, path, "2025-06-01", targetFiles = 1)
    assert(dataFiles == 1)
    val after = CdcLog.read(spark, path).orderBy("event_id").collect().toSeq
    assert(after.map(_.toString).sorted == before.map(_.toString).sorted)
    assert(CdcLog.partitions(spark, path) == Seq("2025-06-01"))
  }

  test("compaction resumes from its committed stage after a crash that deleted the live partition") {
    val path = tempDir("cdccompactcrash")
    (0 until 3).foreach(_ => CdcLog.append(mkEvents(Seq(1, 1, 2)), path))
    val before = CdcLog.read(spark, path).collect().map(_.toString).sorted.toSeq
    // the crash state: the sorted rewrite staged and its META stamped,
    // the live partition already deleted, the rename never run
    val partDir = s"$path/event_date=2025-06-01"
    val stage = s"$path/.compact-event_date=2025-06-01"
    spark.read.parquet(partDir).coalesce(1).write.parquet(stage)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$stage/_GRAFT_COMPACT_META"),
      "compact:event_date=2025-06-01:v1".getBytes("UTF-8"))
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(partDir))
    assert(CdcLog.read(spark, path).count() < before.size)
    CdcLog.compactPartition(spark, path, "2025-06-01", targetFiles = 1)
    assert(CdcLog.read(spark, path).collect().map(_.toString).sorted.toSeq == before,
      "the re-run did not restore the staged rows")
    assert(!new java.io.File(stage).exists())
    assert(CdcLog.partitions(spark, path) == Seq("2025-06-01", "2025-06-02"))
  }

  test("append writes ts as INT64 micros without changing the caller's timestamp type") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val key = "spark.sql.parquet.outputTimestampType"
    val path = tempDir("cdclogtstype")
    graft.SessionConf.withConf(spark, key -> "INT96") {
      CdcLog.append(mkEvents(Seq(1, 2)), path)
      assert(spark.conf.get(key) == "INT96", "append changed the caller's session conf")
    }
    val file = java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator()
      .asScala.find(_.toString.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString), spark.sparkContext.hadoopConfiguration))
    try {
      val ts = reader.getFooter.getFileMetaData.getSchema.getFields.asScala.find(_.getName == "ts").get.asPrimitiveType()
      assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64)
      ts.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          assert(t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS)
        case other => fail(s"ts is not a TIMESTAMP: $other")
      }
    } finally reader.close()
  }

  test("typed read exposes Dataset[ChangeEvent] with the contract intact") {
    val path = tempDir("cdctyped")
    CdcLog.append(mkEvents(Seq(1, 2)), path)
    val ds = CdcLog.readTyped(spark, path)
    val evs = ds.collect().sortBy(_.event_id)
    assert(evs.length == 2)
    assert(evs.head.operation == "INSERT" && evs.head.before.isEmpty && evs.head.after.nonEmpty)
  }

  test("dedup enforces the event_id identity under at-least-once redelivery") {
    val ev = mkEvents(Seq(1, 2))
    assert(CdcLog.dedup(ev.union(ev)).count() == 2)
  }

  test("uniquenessViolations finds duplicated keys") {
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("id", "v")
    val v = CdcLog.uniquenessViolations(df, Seq("id")).collect()
    assert(v.length == 1 && v.head.getInt(0) == 1 && v.head.getLong(1) == 2L)
  }

  test("withDefault fills only nulls (DEFAULT NOW() semantics)") {
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2025-06-14T00:00:00Z"))
    val df = Seq((1, Some(t0)), (2, None)).toDF("id", "created_at")
    val out = CdcLog.withDefault(df, "created_at", lit(t0)).where($"created_at".isNull)
    assert(out.count() == 0)
  }

  test("readEvolved surfaces post-evolution columns on pre-evolution files with defaults") {
    val path = tempDir("evolve") + "/log"
    // v1 era: no source_region column
    CdcLog.append(mkEvents(Seq(1, 2)), path)
    // schema evolves: new files carry source_region
    CdcLog.append(
      mkEvents(Seq(3, 4)).withColumn("source_region", lit("eu")), path)
    // a plain read would resolve to ONE footer's schema; the evolved read
    // must union both eras and default the old rows
    val out = CdcLog.readEvolved(spark, path, Map("source_region" -> lit("unknown")))
    assert(out.count() == 4)
    assert(out.columns.contains("source_region"))
    val byRegion = out.groupBy("source_region").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRegion == Map("unknown" -> 2L, "eu" -> 2L), byRegion.toString)
    // defaults passed for columns no file has yet are materialized too
    val withNew = CdcLog.readEvolved(spark, path,
      Map("source_region" -> lit("unknown"), "ingest_tier" -> lit(0)))
    assert(withNew.where($"ingest_tier" === 0).count() == 4)
  }
}
