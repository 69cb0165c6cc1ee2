package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import graft.Overlap

/** Marker files: one short UTF-8 string stamped beside or inside a stored
  * artifact, naming the layout every reader and writer must agree on
  * (bucket count, shingle width, K, …). The only file I/O the stores do
  * outside Spark's own readers and writers goes through here.
  */
private[graft] object Marker {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean = fs(spark, path).exists(new Path(path))

  /** The marker's body, trimmed; None when the file is absent. */
  def read(spark: SparkSession, file: String): Option[String] = {
    val fs = this.fs(spark, file)
    if (!fs.exists(new Path(file))) None
    else {
      val in = fs.open(new Path(file))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim) finally in.close()
    }
  }

  /** [[read]], refusing an absent marker with `missing`. */
  def readOrRefuse(spark: SparkSession, file: String)(missing: => String): String =
    read(spark, file).getOrElse(throw new IllegalArgumentException(missing))

  def write(spark: SparkSession, file: String, body: String): Unit = {
    val fs = this.fs(spark, file)
    val out = fs.create(new Path(file), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Remove a marker (or the table it vouches for) if present. */
  def delete(spark: SparkSession, path: String): Unit = {
    fs(spark, path).delete(new Path(path), true); ()
  }

  /** Verify that the marker holds `expected`, or stamp it when absent;
    * `mismatch` builds the refusal for a different body. */
  def verifyOrStamp(spark: SparkSession, file: String, expected: String)(
      mismatch: String => Throwable): Unit =
    read(spark, file) match {
      case Some(got) => if (got != expected) throw mismatch(got)
      case None      => write(spark, file, expected)
    }

  /** Guard against mixing key formats across builds: the format is
    * stamped in `<statePath>.keyfmt` on first write and verified on every
    * later one. A state table that predates the stamp (the rollup key
    * changed from `unix_timestamp` seconds to `unix_micros`; replaying
    * onto the old table would DUPLICATE every window, because
    * second-keys never match µs-keys in the replace-by-key anti join)
    * must be rebuilt, not mixed. */
  def verifyKeyFormat(spark: SparkSession, statePath: String, fmt: String): Unit = {
    val file = s"$statePath.keyfmt"
    if (!exists(spark, file) && (exists(spark, statePath) || exists(spark, s"$statePath.bak")))
      throw new IllegalStateException(
        s"rollup state at $statePath predates the key-format stamp (expected " +
          s"'$fmt') — it was written by an earlier build with second-resolution " +
          s"keys; rebuild it (delete $statePath*) instead of mixing key formats")
    verifyOrStamp(spark, file, fmt)(got => new IllegalStateException(
      s"rollup state at $statePath is keyed '$got' but this build writes " +
        s"'$fmt' — rebuild the state table (delete $statePath*) instead of " +
        "mixing key formats, which would duplicate windows silently"))
  }

  // the lookbehind keeps `blocks=`/`probe=` (the hamming marker, which
  // has no hash-bucket axis) from ever matching
  private val BucketField = "(?<![a-zA-Z])((?:buckets|b)=)(\\d+)".r

  /** The bucket field (`buckets=N` or `b=N`) of a marker body. */
  def buckets(body: String): Option[Int] =
    BucketField.findFirstMatchIn(body).map(_.group(2).toInt)

  def withBuckets(body: String, n: Int): String = {
    require(buckets(body).isDefined, s"marker '$body' carries no bucket field to re-stamp")
    BucketField.replaceFirstIn(body, "$1" + n)
  }
}

/** One family of the batched stores the ingest maintainers keep: a parquet
  * table partitioned `ingest_batch` × a bucket column, appended one
  * batch partition per trigger and never rewritten between compactions.
  * The per-batch probe-then-insert over a partitioned index is the
  * setting of Distributed Streaming Set Similarity Join (ICDE 2020).
  *
  * The lifecycle every family shares:
  *   - the layout marker `<path>.keyfmt`, whose bucket count is a STORE
  *     property: maintainers adopt it when the store exists (the
  *     `numBuckets` argument seeds new stores only), which lets
  *     [[graft.streaming.CdcStream.maintainStores]] re-bucket a store at
  *     compaction without coordinating a parameter change across call
  *     sites. The other layout parameters are verified exactly — they
  *     change the stored VALUES, not just their arrangement;
  *   - the replay-filtered read: `ingest_batch < batchId`, so a
  *     redelivered batch probes the PRE-batch store even when its crashed
  *     attempt already appended, pruned to the buckets the batch touches;
  *   - the staged append: the batch's output partition and its store
  *     partition, both overwritten in place (replay-safe), written
  *     concurrently off the caller's critical path;
  *   - the compaction fold into one `ingest_batch=<upToBatch>` partition.
  *
  * @param name      the sub-directory under an ingest pipeline's storeRoot
  * @param keyCol    the probe key; a fold sorts each bucket by it
  * @param bucketCol the partition axis under `ingest_batch`
  * @param columns   the stored data columns in file order (the key's type
  *                  here is its default; [[schema]] may override it)
  * @param hashed    the bucket is `pmod(xxhash64(key), buckets)`, so a
  *                  fold may re-bucket; false for a structural axis
  * @param merge     the fold's per-key merge of mergeable partials
  */
final class BatchedStore private[graft] (
    val name: String,
    val keyCol: String,
    val bucketCol: String,
    columns: Seq[(String, DataType)],
    hashed: Boolean = true,
    merge: DataFrame => DataFrame = identity) {
  import BatchedStore._

  private[graft] def schema(keyType: DataType): StructType = StructType(
    columns.map { case (c, t) => StructField(c, if (c == keyCol) keyType else t) } ++
      Seq(StructField("ingest_batch", LongType), StructField(bucketCol, IntegerType)))

  private[graft] def bucket(n: Int): Column = pmod(xxhash64(col(keyCol)), lit(n)).cast("int")

  /** Adopt the stamped bucket count (`seed` for a new store) and
    * verify-or-stamp the layout it implies. */
  private[graft] def open(spark: SparkSession, path: String, seed: Int)(layout: Int => String): Int = {
    val n = stampedBuckets(spark, path).getOrElse(seed)
    Marker.verifyKeyFormat(spark, path, layout(n))
    n
  }

  /** The buckets `rows` hash into — a bounded collect of at most
    * `buckets` values. None (read every bucket) below
    * [[PruneCollectMinBuckets]]. */
  private[graft] def touched(rows: DataFrame, buckets: Int): Option[Seq[Int]] =
    if (buckets < PruneCollectMinBuckets) None
    else Some(rows.select(bucketCol).distinct().collect().map(_.getInt(0)).toSeq)

  /** The store as batch `batchId` must see it: `ingest_batch < batchId`,
    * pruned to `touched`, and empty with the schema when the store is
    * absent or the batch touches no bucket. */
  private[graft] def read(spark: SparkSession, path: String, schema: StructType, batchId: Long,
      touched: Option[Seq[Int]] = None): DataFrame =
    if (!Marker.exists(spark, path) || touched.exists(_.isEmpty))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      val s = spark.read.schema(schema).parquet(path).where(col("ingest_batch") < batchId)
      touched.fold(s)(t => s.where(col(bucketCol).isin(t: _*)))
    }

  /** The staged append: the batch's output partition and its store
    * partition as one unrun thunk that writes both concurrently
    * ([[graft.Overlap.all]]) and then runs `cleanup`. The thunk MUST be
    * invoked exactly once, and the trigger must not commit before it
    * completes. */
  private[graft] def stagedAppend(out: DataFrame, outPath: String, rows: DataFrame, path: String,
      batchId: Long, width: Option[Int])(cleanup: () => Unit): () => Unit =
    () => try Overlap.all(Seq(
      () => out.write.mode("overwrite").parquet(s"$outPath/ingest_batch=$batchId"),
      () => writeBatch(rows, path, batchId, bucketCol, width))) finally cleanup()

  /** Offline compaction: fold every `ingest_batch ≤ upToBatch` partition
    * into one ([[compactTable]]), merging partials per key, optionally
    * re-bucketing a hashed store to `newBuckets` and re-stamping its
    * marker, and sorting each bucket by the key so parquet row-group
    * stats can skip inside it. Relabeling rows to `upToBatch` changes no
    * probe's view: every probe treats the store as a set or bag filtered
    * at `ingest_batch < batchId`, or sums partials wherever they came
    * from. */
  def compact(spark: SparkSession, path: String, upToBatch: Long,
      newBuckets: Option[Int] = None): Unit =
    compactOn(spark, path, upToBatch, newBuckets, "ingest_batch")

  /** [[compact]] over a table whose batch axis is `batchCol`. */
  private[graft] def compactOn(spark: SparkSession, path: String, upToBatch: Long,
      newBuckets: Option[Int], batchCol: String): Unit = {
    val rb = newBuckets.filter(_ >= 1)
    require(hashed || rb.isEmpty,
      s"the $name store's $bucketCol axis is structural — it has no bucket count")
    compactTable(spark, path, upToBatch, Seq(bucketCol), batchCol,
      metaTag = rb.fold("")(n => s":rb=$n")) { df =>
      val merged = merge(df)
      rb.fold(merged)(n => merged.withColumn(bucketCol, bucket(n)))
        .select((columns.map(_._1) :+ bucketCol).map(col): _*)
        .repartition(col(bucketCol)).sortWithinPartitions(keyCol)
    }
    // the [rename done, marker not yet re-stamped] crash window is covered
    // by the standing contract: finish a crashed compaction (re-run it)
    // BEFORE restarting the stream — the re-run re-derives the fold from
    // the already-folded store (idempotent) and re-stamps
    rb.foreach { n =>
      val file = s"$path.keyfmt"
      val body = Marker.readOrRefuse(spark, file)(s"no .keyfmt marker at $path to re-stamp")
      Marker.write(spark, file, Marker.withBuckets(body, n))
    }
  }
}

object BatchedStore {

  /** Bucket count at or below which the per-trigger touched-bucket
    * collect is SKIPPED and the store probe reads every bucket
    * partition: the collect exists to prune `ingest-batch × bucket`
    * partition dirs when the deployment rule (buckets ∝ corpus) makes
    * the store's bucket count vastly exceed a batch's distinct keys —
    * at ≤ 32 buckets any real batch touches essentially all of them, so
    * the collect is a pure extra job on the trigger's critical path
    * buying no pruning. Results are identical either way (the bucket
    * filter was always an optimization over the key semi-join). */
  private[graft] val PruneCollectMinBuckets = 33

  /** Exact-substring gram set ([[CdcStream.substringStripMaintain]]). */
  val Gram = new BatchedStore("gram", "g", "gb", Seq("g" -> LongType))

  /** Winnowing fingerprint postings ([[CdcStream.winnowAdmitMaintain]]);
    * the fold is concatenation — the cumulative-prior df cap counts
    * posting ROWS, so it is count-preserving. */
  val Win = new BatchedStore("win", "fp", "fb", Seq("id" -> LongType, "fp" -> LongType))

  /** Banded Hamming rows ([[CdcStream.hammingAdmitMaintain]]): `blk` is
    * the structural band index, not a hash bucket. */
  val Ham = new BatchedStore("ham", "key", "blk",
    Seq("key" -> LongType, "id" -> LongType, "hh" -> LongType), hashed = false)

  /** Paragraph count partials ([[CdcStream.boilerplateMaintain]]): probes
    * SUM `n_docs`, so the fold merges partials per paragraph — `pb` is a
    * function of `ph`, so grouping by both agrees with grouping by `ph`. */
  val Counts = new BatchedStore("counts", "ph", "pb",
    Seq("ph" -> StringType, "n_docs" -> LongType),
    merge = _.groupBy("ph", "pb").agg(sum(col("n_docs")).as("n_docs")))

  /** The stores of an ingest pipeline's storeRoot, in maintenance order. */
  private[graft] val Ingest: Seq[BatchedStore] = Seq(Counts, Gram, Win, Ham)

  /** The bucket count stamped in a store's `.keyfmt` marker, if any. */
  private[graft] def stampedBuckets(spark: SparkSession, path: String): Option[Int] =
    Marker.read(spark, s"$path.keyfmt").flatMap(Marker.buckets)

  /** Overwrite batch `batchId`'s own partition of the store at `path`,
    * one file per bucket dir: clustered by the bucket so a write task
    * owns whole buckets instead of fanning small files across every
    * partition dir. `width` is the shuffle width (the session's when
    * None). */
  private[graft] def writeBatch(rows: DataFrame, path: String, batchId: Long, bucketCol: String,
      width: Option[Int]): Unit =
    width.fold(rows.repartition(col(bucketCol)))(n => rows.repartition(n, col(bucketCol)))
      .write.mode("overwrite").partitionBy(bucketCol)
      .parquet(s"$path/ingest_batch=$batchId")

  private def compactMeta(staged: String) = s"$staged/_GRAFT_COMPACT_META"

  /** Whether `staged` holds a committed fold: parquet `_SUCCESS` plus a
    * META naming what it folds. A META for a different target is a hard
    * error — a crashed replace may already have deleted sources for its
    * own target. `_SUCCESS` without META is a crash BETWEEN the fold and
    * the stamp: no deletes have run yet, so re-deriving is safe. */
  private[graft] def stageCommitted(spark: SparkSession, staged: String, metaBody: String): Boolean =
    Marker.exists(spark, s"$staged/_SUCCESS") &&
      Marker.read(spark, compactMeta(staged)).exists { got =>
        require(got == metaBody,
          s"staged compaction at $staged was taken for '$got', not " +
            s"'$metaBody' — a crashed compaction may already have deleted " +
            "source partitions for its own target; re-run with the staged " +
            "upToBatch to finish it before compacting further")
        true
      }

  /** The staged, crash-resumable replace shared by every store fold and
    * [[graft.log.CdcLog.compactPartition]]: `write` the replacement to
    * `staged` OUTSIDE what readers list, stamp its META, delete
    * `sources`, and rename the stage to `target`. A re-run after a crash
    * finds the committed stage and resumes at the delete + rename instead
    * of re-deriving the fold from sources the crash may have deleted. The
    * stage's `_SUCCESS` and META ride along into `target`: Spark's file
    * listing ignores underscore-prefixed files, and deleting them early
    * would break resume. */
  private[graft] def stagedReplace(spark: SparkSession, staged: String, target: String, metaBody: String)(
      sources: => Seq[Path])(write: String => Unit): Unit = {
    if (!stageCommitted(spark, staged, metaBody)) {
      write(staged)
      Marker.write(spark, compactMeta(staged), metaBody)
    }
    val fs = Marker.fs(spark, staged)
    sources.foreach(fs.delete(_, true))
    if (!fs.rename(new Path(staged), new Path(target)))
      throw new java.io.IOException(
        s"store compaction: could not move $staged into place at $target " +
          "(staged fold is intact — re-run to resume)")
  }

  /** Fold every `batchCol ≤ upToBatch` partition of a batched table into
    * ONE `batchCol=<upToBatch>` partition through [[stagedReplace]]
    * (staged at `<tablePath>.compact`), bounding the directory count the
    * per-trigger appends grow: at a 5 s cadence a store gains ~17k
    * partitions/day, and file listing dominates every probe long before
    * data size does.
    *
    * MUST run while the stream is stopped, with `upToBatch` STRICTLY
    * below the next batch id the checkpoint will assign (a replayed last
    * batch filters `ingest_batch < batchId`, so compacting anything it
    * could replay-exclude would leak its own rows back into its probe).
    * `metaTag` rides in the META, so a crash-resumed re-bucketing fold
    * refuses to resume under a different bucket count, exactly like a
    * different `upToBatch`. */
  private[graft] def compactTable(spark: SparkSession, tablePath: String, upToBatch: Long,
      partitionCols: Seq[String], batchCol: String = "ingest_batch", metaTag: String = "")(
      fold: DataFrame => DataFrame): Unit = {
    require(Marker.exists(spark, tablePath), s"no batched store at $tablePath")
    stagedReplace(spark, s"$tablePath.compact", s"$tablePath/$batchCol=$upToBatch",
      s"compact:upTo=$upToBatch$metaTag:v1")(
      Marker.fs(spark, tablePath).listStatus(new Path(tablePath)).toSeq
        .map(_.getPath)
        .filter(_.getName.startsWith(s"$batchCol="))
        .filter(_.getName.stripPrefix(s"$batchCol=").toLong <= upToBatch)) { staged =>
      val w = fold(spark.read.parquet(tablePath).where(col(batchCol) <= upToBatch))
        .write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(staged)
    }
  }
}
