package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.ChangeEvent

/** `cdcpoll` — a DataSource V2 micro-batch source that owns the reference
  * connector's `timestamp+incrementing` semantics natively (reference
  * connectors/cdc-timescale-connector.json:9-15): the streaming offset IS
  * the lexicographic (ts, event_id) watermark, exactly the connector's
  * stored offset, rather than the file-position offsets of Spark's generic
  * file source.
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft.sources.CdcPollTableProvider")
  *     .option("path", logDir)
  *     .option("startTimestamp", "2025-01-01T00:00:00Z") // connector start.timestamp
  *     .load()
  * }}}
  *
  * Mechanics:
  *   - `latestOffset` lists the log's parquet files and reads only footer
  *     statistics (ts / event_id min-max) — no data pages touched on the
  *     driver.
  *   - `planInputPartitions(start, end)` prunes whole files whose stats
  *     range falls outside (start, end] — the parquet-stats analogue of the
  *     reference's btree-index poll scan (init.sql:65-66) — and emits one
  *     partition per surviving file.
  *   - each PartitionReader streams Groups via parquet-hadoop and applies
  *     the exact lexicographic predicate per row.
  *   - exactly-once across restarts comes from Spark's checkpointed offset
  *     log; within a batch, delivery is in file order (ordering across the
  *     batch is applied downstream per R4, matching the connector, which
  *     only orders within one poll query).
  */
class CdcPollTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeEvent.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new CdcPollTable(properties.get("path"), properties)
}

final class CdcPollTable(path: String, props: util.Map[String, String])
    extends Table
    with SupportsRead {
  require(path != null, "cdcpoll requires a 'path' option")

  override def name(): String = s"cdcpoll($path)"
  override def schema(): StructType = ChangeEvent.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CdcPollScanBuilder(path, options.asCaseSensitiveMap().asScala.toMap)
}

/** ScanBuilder with filter pushdown (equality on the routing columns —
  * the view's R2 predicate — evaluated inside the row readers, so
  * non-matching relations never materialize rows) and column pruning
  * (readers emit only the requested envelope fields). Both apply to the
  * streaming and the batch form alike.
  */
final class CdcPollScanBuilder(path: String, options: Map[String, String])
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.sources.{EqualTo, Filter}

  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = ChangeEvent.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(attr, _: String) => attr == "schema_name" || attr == "table_name"
      case _                        => false
    }
    pushed = accepted
    rejected // Spark evaluates the rest post-scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit =
    // preserve envelope field order; tolerate empty projections (count(*))
    requiredSchema = StructType(
      ChangeEvent.schema.fields.filter(f => required.fieldNames.contains(f.name)))

  private def eqFilters: Map[String, String] =
    pushed.collect { case EqualTo(a, v: String) => a -> v }.toMap

  override def build(): Scan = new Scan {
    override def readSchema(): StructType = requiredSchema
    override def description(): String =
      s"cdcpoll(path=$path, pushed=${pushed.mkString(",")}, columns=${requiredSchema.fieldNames.mkString(",")})"
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new CdcPollMicroBatchStream(path, options, eqFilters, requiredSchema.fieldNames)
    // batch form: one backfill scan over (startTimestamp, latest] with
    // the same offset semantics and file pruning as the stream
    override def toBatch: Batch = new Batch {
      private val stream =
        new CdcPollMicroBatchStream(path, options, eqFilters, requiredSchema.fieldNames)
      override def planInputPartitions(): Array[InputPartition] =
        stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
      override def createReaderFactory(): PartitionReaderFactory =
        stream.createReaderFactory()
    }
  }
}

/** Offset = the lexicographic (ts, event_id) watermark, serialized as JSON. */
final case class CdcPollOffset(tsMicros: Long, eventId: Long) extends Offset {
  override def json(): String = s"""{"tsMicros":$tsMicros,"eventId":$eventId}"""

  def lexLt(o: CdcPollOffset): Boolean =
    tsMicros < o.tsMicros || (tsMicros == o.tsMicros && eventId < o.eventId)
}

object CdcPollOffset {
  private val Pat = """\{"tsMicros":(-?\d+),"eventId":(-?\d+)\}""".r

  def fromJson(s: String): CdcPollOffset = s match {
    case Pat(t, i) => CdcPollOffset(t.toLong, i.toLong)
    case other     => throw new IllegalArgumentException(s"bad cdcpoll offset: $other")
  }

  val Zero: CdcPollOffset = CdcPollOffset(Long.MinValue, Long.MinValue)
}

final class CdcPollMicroBatchStream(
    path: String,
    options: Map[String, String],
    eqFilters: Map[String, String] = Map.empty,
    columns: Seq[String] = ChangeEvent.columns
) extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // AvailableNow: the end-of-stream target is frozen when the query starts;
  // rate limits pace batches up to it and the query stops there
  @volatile private var availableNowTarget: Option[CdcPollOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestOffset().asInstanceOf[CdcPollOffset])

  private def clamp(o: CdcPollOffset): CdcPollOffset =
    availableNowTarget match {
      case Some(t) if t.lexLt(o) => t
      case _                     => o
    }

  private val hadoopConf = new Configuration()

  /** Injectable clock (µs) for the `timestamp.delay` guard — overridden in
    * tests; production uses wall clock.
    */
  private[graft] var clockMicros: () => Long = () => System.currentTimeMillis() * 1000L

  /** The connector's `timestamp.delay.interval.ms` guard (reference
    * connector.json mode semantics; batch twin in
    * IncrementalPoller.delayGuard): rows newer than `now − delay` stay
    * invisible to the offset, giving in-flight commits `delay` to land
    * before the watermark passes them.
    */
  private def delayMicros: Option[Long] =
    options.get("timestamp.delay.ms").orElse(options.get("timestampDelayMs")).map(_.toLong * 1000L)

  /** Count of parquet footers actually opened — observability for the
    * stats cache (asserted in CdcPollSourceSpec).
    */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  // path → (fileLen, mtime, stats range). CDC log files are immutable once
  // written (append-only log; compaction replaces paths), so (len, mtime)
  // is a sufficient validity key. Without this, every trigger re-opened
  // every footer on the driver — O(all files) per micro-batch, the driver
  // bottleneck at the log's own 17k-files/day compaction math.
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Option[(CdcPollOffset, CdcPollOffset)])]()

  private def startOffset: CdcPollOffset =
    options.get("starttimestamp").orElse(options.get("startTimestamp")) match {
      case Some(iso) =>
        CdcPollOffset(java.time.Instant.parse(iso).toEpochMilli * 1000L, 0L)
      case None => CdcPollOffset.Zero
    }

  /** Every committed parquet file under the log root. Hidden names are
    * skipped by Spark's own file-index rule: a leading `_` without an
    * `=` (which keeps `_`-prefixed partition dirs), any leading `.`, and
    * a `._COPYING_` suffix. An append in progress stages its
    * half-written files under `_temporary/` (opening one fails the
    * query: "is not a Parquet file"), and `CdcLog.compactPartition`
    * stages a partition's rewrite under `.compact-event_date=<d>/`
    * (listing it would deliver those rows twice). */
  private def listParquetFiles(): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return Seq.empty
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    val out = Seq.newBuilder[FileStatus]
    val stack = scala.collection.mutable.Stack(root)
    while (stack.nonEmpty) {
      fs.listStatus(stack.pop()).filterNot(st => hidden(st.getPath.getName)).foreach { st =>
        if (st.isDirectory) stack.push(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) out += st
      }
    }
    out.result()
  }

  /** (min, max) of (ts, event_id) from footer column statistics, memoized
    * per (path, len, mtime) — a footer is read once per file lifetime, not
    * once per trigger.
    */
  private def fileStatsRange(st: FileStatus): Option[(CdcPollOffset, CdcPollOffset)] = {
    val key = st.getPath.toString
    val cached = statsCache.get(key)
    if (cached != null && cached._1 == st.getLen && cached._2 == st.getModificationTime)
      return cached._3
    val range = readFooterStats(st)
    statsCache.put(key, (st.getLen, st.getModificationTime, range))
    range
  }

  private def readFooterStats(st: FileStatus): Option[(CdcPollOffset, CdcPollOffset)] = {
    footerReads.incrementAndGet()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, hadoopConf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      if (blocks.isEmpty) return None
      var minTs = Long.MaxValue; var maxTs = Long.MinValue
      var minId = Long.MaxValue; var maxId = Long.MinValue
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val colPath = c.getPath.toDotString
          val stats = c.getStatistics
          if (stats != null && stats.hasNonNullValue) {
            colPath match {
              case "ts" =>
                minTs = math.min(minTs, stats.genericGetMin.asInstanceOf[java.lang.Long])
                maxTs = math.max(maxTs, stats.genericGetMax.asInstanceOf[java.lang.Long])
              case "event_id" =>
                minId = math.min(minId, stats.genericGetMin.asInstanceOf[java.lang.Long])
                maxId = math.max(maxId, stats.genericGetMax.asInstanceOf[java.lang.Long])
              case _ =>
            }
          }
        }
      }
      if (maxTs == Long.MinValue || maxId == Long.MinValue) None
      else Some((CdcPollOffset(minTs, minId), CdcPollOffset(maxTs, maxId)))
    } finally reader.close()
  }

  override def initialOffset(): Offset = startOffset

  override def latestOffset(): Offset = {
    // componentwise max is a valid lexicographic upper bound here because
    // the global max event_id row is itself <= (maxTs, maxId)
    val ranges = listParquetFiles().flatMap(fileStatsRange)
    if (ranges.isEmpty) startOffset
    else {
      val all = CdcPollOffset(ranges.map(_._2.tsMicros).max, ranges.map(_._2.eventId).max)
      delayMicros match {
        case Some(d) =>
          // visibility watermark: rows with ts > now − delay wait for a
          // later trigger; never retreat below the start offset
          val cap = CdcPollOffset(clockMicros() - d, Long.MaxValue)
          val delayed = if (cap.lexLt(all)) cap else all
          if (delayed.lexLt(startOffset)) startOffset else delayed
        case None => all
      }
    }
  }

  // ---- admission control (rate-limited micro-batches) ----------------------

  override def getDefaultReadLimit: ReadLimit =
    options.get("maxfilespertrigger").orElse(options.get("maxFilesPerTrigger")) match {
      case Some(n) => ReadLimit.maxFiles(n.toInt)
      case None    => ReadLimit.allAvailable()
    }

  /** Rate-limited batch end: admit ~maxFiles files per trigger. The end
    * offset must be a clean cut — every row ≤ end has to live in an
    * admitted file — so after picking the `maxFiles` files with the
    * smallest max-offsets, the end is placed just below the smallest
    * min-offset among the files left out (rows past the cut inside
    * admitted files are simply re-read next trigger; the (start, end]
    * predicate keeps them out of this batch). If ranges interleave so no
    * clean cut exists above `start`, fall back to all available — progress
    * over strict pacing.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdcPollOffset]
    // the delay watermark (inside latestOffset()) can sit below an already
    // committed position — never let the stream's offset regress past it
    val latest = latestOffset().asInstanceOf[CdcPollOffset]
    val all = clamp(if (latest.lexLt(s)) s else latest)
    limit match {
      case _: ReadAllAvailable => all
      case mf: ReadMaxFiles =>
        val pending = listParquetFiles()
          .flatMap(fileStatsRange)
          .filter { case (_, mx) => s.lexLt(mx) } // file has rows after start
          .sortBy { case (_, mx) => (mx.tsMicros, mx.eventId) }
        if (pending.size <= mf.maxFiles()) all
        else {
          val remaining = pending.drop(mf.maxFiles())
          val cutBelow = remaining.map(_._1).minBy(mn => (mn.tsMicros, mn.eventId))
          val cut = clamp(CdcPollOffset(cutBelow.tsMicros, cutBelow.eventId - 1))
          // the rate-limited cut must also respect the delay watermark
          val end = if (all.lexLt(cut)) all else cut
          if (s.lexLt(end)) end else all
        }
      case _ => all
    }
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CdcPollOffset]
    val e = end.asInstanceOf[CdcPollOffset]
    listParquetFiles().flatMap { st =>
      fileStatsRange(st) match {
        case Some((mn, mx)) =>
          // skip files entirely at-or-before start or entirely after end
          val atOrBeforeStart = !s.lexLt(mx) // mx <= s
          val afterEnd = e.lexLt(mn) // mn > e
          if (atOrBeforeStart || afterEnd) None
          else Some(CdcPollInputPartition(st.getPath.toString, s, e, eqFilters, columns): InputPartition)
        case None => None
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new CdcPollPartitionReader(partition.asInstanceOf[CdcPollInputPartition])
    }

  override def commit(end: Offset): Unit = () // checkpoint log owns progress
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset = CdcPollOffset.fromJson(json)
}

final case class CdcPollInputPartition(
    file: String,
    start: CdcPollOffset,
    end: CdcPollOffset,
    eqFilters: Map[String, String],
    columns: Seq[String]
) extends InputPartition

/** Row-level reader: parquet-hadoop Group records + the exact lexicographic
  * (start, end] predicate (SURVEY.md §2.3 R3).
  */
final class CdcPollPartitionReader(p: CdcPollInputPartition)
    extends PartitionReader[InternalRow] {

  private val reader = {
    val conf = new Configuration()
    org.apache.parquet.hadoop.ParquetReader
      .builder(new GroupReadSupport(), new Path(p.file))
      .withConf(conf)
      .build()
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      val ts = g.getLong("ts", 0)
      val id = g.getLong("event_id", 0)
      val afterStart = ts > p.start.tsMicros ||
        (ts == p.start.tsMicros && id > p.start.eventId)
      val atOrBeforeEnd = ts < p.end.tsMicros ||
        (ts == p.end.tsMicros && id <= p.end.eventId)
      if (afterStart && atOrBeforeEnd) {
        def raw(field: String): String =
          if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)
        // pushed R2 equality filters evaluated before row materialization
        val passes = p.eqFilters.forall { case (f, v) => raw(f) == v }
        if (passes) {
          def str(field: String): UTF8String = {
            val s = raw(field)
            if (s == null) null else UTF8String.fromString(s)
          }
          current = InternalRow(p.columns.map {
            case "ts"       => ts
            case "event_id" => id
            case other      => str(other)
          }: _*)
          return true
        }
      }
      g = reader.read()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
