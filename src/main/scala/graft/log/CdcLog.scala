package graft.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SessionConf.withConf
import graft.streaming.{BatchedStore, Marker}

/** The unified, time-partitioned, retention-managed change-event log — the
  * engine's owned replacement for the reference's `cdc.event_log`
  * hypertable (reference timescale/init.sql:41-72).
  *
  * Layout decisions and their reference counterparts:
  *   - `partitionBy("event_date")` replaces hypertable chunking on `ts`
  *     (`create_hypertable(..., by_range('ts'))`, reference init.sql:70);
  *     Catalyst partition pruning (`PruneFileSourcePartitions`) replaces
  *     Timescale chunk exclusion — both make time-range scans O(matching
  *     partitions), which is what keeps a 7-day poll window cheap on a
  *     100 TB log.
  *   - `sortWithinPartitions(schema_name, table_name, ts, event_id)` before
  *     write replaces the btree poll indexes (reference init.sql:65-66):
  *     Parquet row-group min/max stats on sorted files give the same skip
  *     behavior for both the per-table view filter and the global (ts,
  *     event_id) poll predicate.
  *   - retention = partition-directory drop, the same O(1)-per-partition
  *     operation as `add_retention_policy(..., INTERVAL '7 days')`
  *     (reference init.sql:71) dropping chunks.
  */
object CdcLog {

  val PartitionCol = "event_date"

  /** Append change events to the log at `path`, deriving the partition
    * column from `ts` (reference init.sql:17-18 — trigger INSERT into the
    * hypertable routes by ts).
    */
  def append(events: DataFrame, path: String): Unit =
    // INT64 micros (not INT96): footer min/max stats on ts stay usable for
    // file skipping by readers — incl. the cdcpoll DSv2 source's offset
    // pruning — and every modern reader understands TIMESTAMP(MICROS).
    // Set for this write only: the caller's session keeps its own value.
    withConf(events.sparkSession, "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      events
        .withColumn(PartitionCol, to_date(col("ts")))
        .repartition(col(PartitionCol))
        .sortWithinPartitions("schema_name", "table_name", "ts", "event_id")
        .write
        .mode("append")
        .partitionBy(PartitionCol)
        .parquet(path)
    }

  /** Read the log back; partition pruning applies to `event_date` filters. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Typed view of the log (Dataset[ChangeEvent]) for callers that want
    * compile-time field checks; `event_date` is derivable, so only the
    * envelope columns are exposed.
    */
  def readTyped(spark: SparkSession, path: String): org.apache.spark.sql.Dataset[graft.model.ChangeEvent] = {
    import spark.implicits._
    read(spark, path)
      .select(graft.model.ChangeEvent.columns.map(col): _*)
      .as[graft.model.ChangeEvent]
  }

  /** Compact a partition's many small files (the residue of frequent
    * micro-batch appends — a 5 s trigger writes ~17k files/day/partition
    * at one file per batch) into ~`targetFiles` sorted files. Same
    * rewrite Timescale does implicitly at chunk level; here it is an
    * explicit maintenance job, idempotent per partition, one partition
    * directory at a time.
    *
    * Crash-safe by the stores' staged replace
    * ([[graft.streaming.BatchedStore.stagedReplace]]): the sorted rows
    * are staged in the hidden `.compact-event_date=<d>` dir (invisible
    * to Spark's listing and to `cdcpoll`), stamped, and only then is the
    * live partition deleted and the stage renamed into place. A crash
    * after the delete leaves the rows only in the committed stage, so
    * the re-run resumes from it even though the partition is gone.
    */
  def compactPartition(spark: SparkSession, path: String, eventDate: String, targetFiles: Int = 1): Unit = {
    val partDir = s"$path/$PartitionCol=$eventDate"
    val staged = s"$path/.compact-$PartitionCol=$eventDate"
    val meta = s"compact:$PartitionCol=$eventDate:v1"
    if (!Marker.exists(spark, partDir) && !BatchedStore.stageCommitted(spark, staged, meta)) return
    BatchedStore.stagedReplace(spark, staged, partDir, meta)(Seq(new Path(partDir))) { out =>
      spark.read
        .parquet(partDir)
        .repartition(targetFiles)
        .sortWithinPartitions("schema_name", "table_name", "ts", "event_id")
        .write
        .mode("overwrite")
        .parquet(out)
    }
  }

  /** List partition values present in the log (directory names). */
  def partitions(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$PartitionCol="))
      .map(_.getPath.getName.stripPrefix(s"$PartitionCol="))
      .toSeq
      .sorted
  }

  /** Retention policy: drop whole partitions older than `retainDays`
    * (reference init.sql:71 — 7-day `add_retention_policy`). Metadata-only:
    * deletes partition directories, never rewrites rows.
    */
  def applyRetention(spark: SparkSession, path: String, retainDays: Int, asOf: java.time.LocalDate): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val cutoff = asOf.minusDays(retainDays.toLong)
    val dropped = fs
      .listStatus(root)
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith(s"$PartitionCol=") &&
        java.time.LocalDate.parse(p.getName.stripPrefix(s"$PartitionCol=")).isBefore(cutoff)
      }
    dropped.foreach(fs.delete(_, true))
    dropped.map(_.getName).toSeq
  }

  /** Retention as a DataFrame transform (for in-memory logs / tests):
    * keep rows within the window. Same predicate the partition drop
    * implements physically.
    */
  def retained(log: DataFrame, retainDays: Int, asOf: java.sql.Date): DataFrame =
    log.where(to_date(col("ts")) >= date_sub(lit(asOf), retainDays))

  /** Idempotent-ingest guard: the engine invariant standing in for the
    * reference's PK (event_id, ts) (reference init.sql:61-62). At-least-once
    * delivery (SURVEY.md §2.4 D4) means duplicates are possible; consumers
    * dedup on the logical identity `event_id`.
    */
  def dedup(log: DataFrame): DataFrame = log.dropDuplicates("event_id")

  /** Constraint check (SURVEY.md §2.2 S4): rows whose key is not unique.
    * Used by tests to assert PK/UNIQUE invariants Spark does not enforce.
    */
  def uniquenessViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1)

  /** Ingest-time column defaults (reference init.sql:94-95 `DEFAULT NOW()`;
    * SURVEY.md §2.2 S5): fill nulls with the default expression.
    */
  def withDefault(df: DataFrame, colName: String, default: org.apache.spark.sql.Column): DataFrame =
    df.withColumn(colName, coalesce(col(colName), default))

  /** Schema-evolved read: a long-lived log accumulates files written
    * before columns were added (the ALTER TABLE + DEFAULT pattern the
    * reference gets from Postgres). Plain `spark.read.parquet` takes ONE
    * file's footer as the schema — columns missing from that file are
    * silently dropped for every file. This read merges all footers
    * (`mergeSchema`) so added columns surface as nulls on pre-evolution
    * rows, then applies the caller's defaults — the Spark analogue of
    * ALTER TABLE ... ADD COLUMN ... DEFAULT.
    *
    * Scale note: mergeSchema reads every file footer up front; on a huge
    * log prefer evolving rarely and pruning partitions first — footers,
    * not data, but still one round per file.
    */
  def readEvolved(
      spark: SparkSession,
      path: String,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty
  ): DataFrame = {
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    defaults.foldLeft(merged) { case (df, (name, default)) =>
      if (df.columns.contains(name)) withDefault(df, name, default)
      else df.withColumn(name, default)
    }
  }
}
