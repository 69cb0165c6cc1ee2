package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.{Dedup, Similarity}

/** Scale stress for the dedup + similarity + time-series + CDC families: the
  * candidate-bounding knobs (`maxShingleDf`, MinHash banding, SimHash
  * block multiprobe, SRP-LSH blocks, the adaptive clustering threshold,
  * the ANN bucket/probe counts) and the custom keyed operators (as-of
  * sorted-merge exec, bucketed range join, gapfill) have only ever run
  * at sf0.1 — this main pins that the candidate FILTERS and per-key plan
  * shapes, not small data, carry the scale story, by running the same
  * operators on a 10× synthetic expansion of the sf0.1 corpus and
  * checking per-op time stays within ~2× of linear.
  *
  * Corpus: every document replicated `Replicas` times with deterministic
  * word-level mutations — replica 1 appends one sentinel word (a true
  * near-dup, Jaccard just under 1), replicas ≥2 replace every
  * `(k mod 5)+3`-rd word with a replica-salted token (distinct documents,
  * Jaccard vs source well under the 0.4 gate threshold). That is the
  * realistic crawl shape: volume mostly-unique, a thin band of true
  * duplicates, shingle frequency skew preserved. Embeddings replicate
  * with first-component nudges (replica 1 a near-dup at cos ≥ 0.999,
  * the rest sign-flipped off-axis on k-distinct stripes — mostly below
  * the 0.9 threshold, with realistic straggler pairs above it).
  *
  * Emits one JSON line with per-op seconds at 1× and 10× plus the
  * scale factor ratio/linear, and writes it to BENCH_STRESS.json.
  */
object StressBench {

  /** Corpus expansion factor. Default 10 is the recorded BENCH_STRESS
    * contract; SPARK_GRAFT_STRESS_REPLICAS overrides for deeper one-off
    * probes (30×, 100×), whose results land in BENCH_STRESS_<k>x.json so
    * a probe can never overwrite the standard artifact.
    *
    * ~100× is the probe's validity ceiling: the mutation masks are
    * periodic in k (flip stripes repeat with period lcm ≤ ~56), so past
    * a few hundred replicas distinct replicas of one source start
    * sharing masks EXACTLY — the true-pair band itself then grows
    * quadratically in Replicas and every generator's output (and cost)
    * follows it. A 300× embedding probe measures that corpus artifact,
    * not engine scaling; don't read x_vs_linear there.
    */
  val Replicas: Int =
    sys.env.get("SPARK_GRAFT_STRESS_REPLICAS").map(_.toInt).filter(_ > 1).getOrElse(10)

  /** Optional comma-separated op subset (iteration knob, mirroring
    * SPARK_GRAFT_ONLY in graft.Bench). A subset run never writes the
    * JSON artifact — partial results must not overwrite the contract.
    */
  val OnlyOps: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_STRESS_OPS").map(_.split(",").map(_.trim).toSet)

  /** The reference connector's stated poll cadence (reference
    * readme.md:54) — the wall-clock budget the composed pipeline's
    * per-trigger cost is asserted against at the 100x cut. */
  val PipelineCadenceSec: Double = 5.0

  /** calibration_sec of the host CLASS the 5 s cadence contract was
    * demonstrated on — READ AT RUNTIME from the stored BENCH_r17.json
    * (the artifact that demonstrated the contract; it reads 0.60, and
    * the r16/r17-era cuts span 0.57-0.70), so the constant cannot
    * silently drift from its source if the calibration probe's workload
    * ever changes; 0.6 is only the fallback when the artifact is absent
    * (e.g. running from a bare checkout). The cadence assert divides
    * this box's wall by (calibration_sec / this) so the gate compares
    * engines, not hosts — the sandbox's own calibration swings
    * 0.78-1.53 between windows, and a raw-wall-only assert would flip
    * on host speed alone (a generous absolute ceiling is still asserted
    * beside it so normalization can never excuse an unbounded wall). */
  val ReferenceCalSec: Double = {
    val f = new java.io.File("BENCH_r17.json")
    val parsed =
      if (!f.exists()) None
      else
        try {
          val src = scala.io.Source.fromFile(f, "UTF-8")
          val txt = try src.mkString finally src.close()
          """"calibration_sec"\s*:\s*([0-9.]+)""".r
            .findFirstMatchIn(txt).map(_.group(1).toDouble).filter(_ > 0.0)
        } catch { case _: Throwable => None }
    parsed.getOrElse(0.6)
  }

  // Shared near-dup probe parameters, hoisted into ONE set of vals used
  // by both the timed closures and the work-denominator probes below —
  // the r16 advice finding: winnow_pairs' work normalization duplicated
  // the probe's parameters as literals, so a probe-side change would
  // have silently computed x_vs_linear_work (the documented primary
  // metric) against the wrong candidate band.
  private val ShingleN = 5
  private val JaccardThr = 0.4
  private val NgramMaxDf = 100L
  private val MinhashNumHashes = 64
  private val MinhashBands = 16
  private val WinnowW = 5
  private val WinnowWindow = 4
  private val WinnowMinShared = 3
  private val WinnowMaxDf = 100L

  def expandDocs(docs: DataFrame): DataFrame = {
    val k = explode(sequence(lit(0), lit(Replicas - 1))).as("k")
    docs
      .select(col("doc_id"), col("text"), k)
      .select(
        (col("doc_id") * Replicas + col("k")).as("doc_id"),
        when(col("k") === 0, col("text"))
          .when(col("k") === 1, concat(col("text"), lit(" zq"), col("doc_id")))
          .otherwise(
            array_join(
              transform(
                split(col("text"), "\\s+"),
                (w, i) =>
                  when(i % (pmod(col("k"), lit(5)) + 3) === 0,
                    concat(lit("m"), col("k"), lit("x"), i)).otherwise(w)),
              " "))
          .as("text"))
  }

  def expandEmbs(embs: DataFrame): DataFrame = {
    val k = explode(sequence(lit(0), lit(Replicas - 1))).as("k")
    embs
      .select(col("vec_id"), col("embedding"), k)
      .select(
        (col("vec_id") * Replicas + col("k")).as("vec_id"),
        when(col("k") === 0, col("embedding"))
          .when(col("k") === 1,
            concat(
              array(element_at(col("embedding"), 1) * lit(1.05f)),
              // length-agnostic tail — a hardcoded 63 would silently
              // truncate replica-1 vectors on a non-64-dim corpus
              slice(col("embedding"), lit(2), size(col("embedding")) - 1)))
          .otherwise(
            // bend replicas >=2 off-axis: flip signs on a k-dependent
            // (period, phase) stripe — period (k mod 7)+2, phase shifted
            // by k so no two replicas share the identical flip mask (a
            // plain i % period == 0 made k=2 and k=9 bit-identical).
            // Flipping ~1/period of the components puts E[cos vs source]
            // ≈ 1 − 2/period (≈ 0.5-0.75) — mostly below the 0.9
            // threshold; the occasional straggler above it is realistic
            // corpus noise, counted by the op like any true pair
            transform(
              col("embedding"),
              (x, i) =>
                when((i + col("k")) % (pmod(col("k"), lit(7)) + 2) === 0, -x)
                  .otherwise(x)))
          .as("embedding"))
  }

  /** Events expansion for the time-series family: each replica shifts
    * user_id and event_id past the 1× maxima, timestamps unchanged —
    * corpus growth by MORE USERS at constant per-user event density, the
    * realistic deployment axis (and the one that must stay linear: per-key
    * work in the sorted-merge as-of, the bucketed range join, and the
    * gapfill grid is untouched; only key count grows).
    */
  def expandEvents(ev: DataFrame, userStride: Long, idStride: Long): DataFrame = {
    val k = explode(sequence(lit(0), lit(Replicas - 1))).as("k")
    ev.select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"), k)
      .select(
        (col("event_id") + col("k") * idStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("k") * userStride).as("user_id"),
        col("event_type"),
        col("value"))
  }

  /** Deterministic next-snapshot mutation for the CDC family: 5% of rows
    * deleted (event_id ≡ 3 mod 20), 10% updated (≡ 4 mod 10, value+1), 5%
    * inserted past `insertStride` (≡ 7 mod 20 re-keyed) — the standard
    * mixed-DML shape, so the capture diff is ~20% of the corpus and apply
    * touches every class of change.
    */
  def mutateSnapshot(ev: DataFrame, insertStride: Long): DataFrame = {
    val afterDelete = ev.where(col("event_id") % 20 =!= 3)
    val updated = afterDelete.withColumn(
      "value",
      when(col("event_id") % 10 === 4, col("value") + 1.0).otherwise(col("value")))
    val inserts = ev.where(col("event_id") % 20 === 7)
      .withColumn("event_id", col("event_id") + insertStride)
    updated.unionByName(inserts)
  }

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** count() forces full evaluation of every op's output. Frames are
    * by-name: corpus expansion is lazy in main, and a thunk must not
    * force a corpus its op family doesn't read (a 300× embedding-only
    * probe shouldn't build the 30M-event CDC log).
    */
  /** Per-corpus admission-index materializations: corpus file-set →
    * parquet dir (the gram / semantic index a pipeline persists; built
    * one-off outside the steady-state min-of-runs, the rollup memo
    * convention).
    */
  private val admitMemo = scala.collection.mutable.Map[(Set[String], String), String]()

  private def memoIndex(key: Set[String], tag: String)(build: String => Unit): String =
    admitMemo.synchronized {
      admitMemo.getOrElseUpdate((key, tag), {
        val d = java.nio.file.Files.createTempDirectory(s"graft-stress-$tag").toString + "/idx"
        build(d)
        d
      })
    }

  /** Block-max escalation telemetry captured per (corpus, probe):
    * (certification rounds, admitted blocks) of the probe's LAST run —
    * emitted beside its stress row so a pathological term distribution
    * forcing the geometric escalation toward the full scan is visible
    * in the artifact, not silent. */
  private val bmRounds =
    scala.collection.mutable.Map[(Set[String], String), (Int, Long)]()

  private def recordBmRounds(key: Set[String], probe: String): Unit =
    graft.ext.TextOps.lastBlockMaxStats.foreach { s =>
      bmRounds.synchronized { bmRounds((key, probe)) = s }
    }

  /** The O(batch) claim of the ingestion-time admission forms, measured
    * directly: the INDEX grows with the corpus, the arriving BATCH stays
    * the fixed 1× slice (re-identified above every corpus id) — so
    * admission wall time must stay ~flat and `x_vs_linear` must
    * COLLAPSE toward 1/Replicas (the fixed-batch probe shape, like the
    * ANN top-k ops). A ratio near 1 would mean admission secretly
    * rescans the corpus.
    */
  private def admitOps(
      docs: => DataFrame,
      embs: => DataFrame,
      batchDocs: => DataFrame,
      batchEmbs: => DataFrame): Seq[(String, () => Long)] = Seq(
    "substring_admit" -> (() => {
      val spark = docs.sparkSession
      val dir = memoIndex(docs.inputFiles.toSet, "gramidx") { d =>
        Dedup.substringGramIndex(docs, "doc_id", "text", k = 10, hashKey = true)
          .write.parquet(d)
      }
      Dedup.exactSubstringSpansIncremental(
          spark.read.parquet(dir),
          batchDocs.select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")),
          "doc_id", "text", k = 10, hashKey = true)
        .where(col("n_spans") > 0).count()
    }),
    "semantic_admit" -> (() => {
      val spark = embs.sparkSession
      val n = embs.count()
      val k = math.max(64L, n / 1000L).toInt
      // stored-state shape: the seed table persists beside the index at
      // build time (it is K rows — the artifact semanticAdmit's stored-
      // seed overload reads), so no admission call re-derives it
      val dir = memoIndex(embs.inputFiles.toSet, "semidx") { d =>
        Dedup.semanticIndex(embs, "vec_id", "embedding", k).write.parquet(s"$d/idx")
        Dedup.semanticSeeds(embs, "vec_id", "embedding", k).write.parquet(s"$d/seeds")
      }
      Dedup.semanticAdmit(
          spark.read.parquet(s"$dir/idx"),
          spark.read.parquet(s"$dir/seeds"),
          batchEmbs.select((col("vec_id") + 1000000000000L).as("vec_id"), col("embedding")),
          "vec_id", "embedding", 0.9)
        .where(col("status") =!= "new").count()
    }),
    "winnow_admit" -> (() => {
      // fuzzy-text admission against the stored fingerprint index: the
      // postings are built once (memoized, untimed — the accumulated
      // deployment artifact), the timed leg is one fixed-batch probe
      // (bucket-pruned read + df-capped join), so wall must stay ~flat
      // as the index grows
      val spark = docs.sparkSession
      val dir = memoIndex(docs.inputFiles.toSet, "winnowidx") { d =>
        Dedup.writeWinnowIndex(docs, "doc_id", "text", d,
          w = WinnowW, windowSize = WinnowWindow, maxDf = WinnowMaxDf, buckets = 64)
      }
      Dedup.winnowAdmitStored(
          spark, dir,
          batchDocs.select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")),
          "doc_id", "text", minShared = WinnowMinShared)
        .where(col("status") =!= "new").count()
    }),
    "winnow_stream" -> (() => {
      // the STREAMING ingest form's per-trigger cost: the store is
      // built by ingesting the corpus as batch 0 (memoized, untimed),
      // the timed leg is one winnowAdmitApplyBatch of the fixed 1×
      // batch — probe + append, wall must stay ~flat as the store grows
      val spark = docs.sparkSession
      val dir = memoIndex(docs.inputFiles.toSet, "winnowstream") { d =>
        graft.streaming.CdcStream.winnowAdmitApplyBatch(
          docs, 0L, s"$d/idx", s"$d/out", "doc_id", "text",
          w = WinnowW, windowSize = WinnowWindow, minShared = WinnowMinShared,
          maxDf = WinnowMaxDf, numBuckets = 64, portable = false)
      }
      graft.streaming.CdcStream.winnowAdmitApplyBatch(
        batchDocs.select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")),
        1L, s"$dir/idx", s"$dir/out", "doc_id", "text",
        w = WinnowW, windowSize = WinnowWindow, minShared = WinnowMinShared,
        maxDf = WinnowMaxDf, numBuckets = 64, portable = false)
      spark.read.parquet(s"$dir/out/ingest_batch=1").count()
    }),
    "winnow_probe_frag" -> (() => winnowDirProbe(docs, batchDocs, compact = false)),
    "winnow_probe_compacted" -> (() => winnowDirProbe(docs, batchDocs, compact = true)),
    // the fragmentation-GATED maintenance loop's worst between-folds
    // state: FragmentationFoldBound - 1 batch dirs accumulated, next
    // trigger probes before the gate trips. The deployment claim is
    // that a maintained store's probe never exceeds ~2x the compacted
    // floor — this leg measures exactly that state (the _frag leg is
    // the unmaintained cliff the gate exists to prevent)
    "winnow_probe_maintained" -> (() => winnowDirProbe(docs, batchDocs, compact = false,
      dirCap = Some(graft.streaming.CdcStream.FragmentationFoldBound - 1))),
    "substring_stream" -> (() => {
      // the STREAMING ingest form's per-trigger cost against a gram
      // store holding the whole corpus: one substringStripApplyBatch of
      // the fixed 1× batch (probe + strip + left_anti + append — exactly
      // one foreachBatch trigger). The store is built by ingesting the
      // corpus as batch 0 (memoized, untimed — the artifact a deployment
      // accumulates); the r11 design rewrote the full index per trigger,
      // so this probe exists to keep per-trigger wall ~flat (ratio
      // collapsing toward 1/Replicas) as the store grows 10×/100×.
      val spark = docs.sparkSession
      val dir = memoIndex(docs.inputFiles.toSet, "gramstream") { d =>
        graft.streaming.CdcStream.substringStripApplyBatch(
          docs, 0L, s"$d/store", s"$d/out", k = 10, hashKey = true, numBuckets = 16)
      }
      graft.streaming.CdcStream.substringStripApplyBatch(
        batchDocs.select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")),
        1L, s"$dir/store", s"$dir/out", k = 10, hashKey = true, numBuckets = 16)
      spark.read.parquet(s"$dir/out/ingest_batch=1").count()
    }),
    "boilerplate_admit" -> (() => {
      // the streaming boilerplate maintainer's per-trigger cost against
      // a count store holding the whole corpus: one boilerplateApplyBatch
      // of the fixed 1× batch (paragraph explode + touched-bucket prior
      // probe + partial append). Per-trigger wall must stay ~flat as the
      // indexed corpus grows — the O(batch + touched buckets) claim.
      val spark = docs.sparkSession
      val paraDocs = docs.select(col("doc_id"),
        regexp_replace(col("text"), " (the|a|and) ", "\n").as("text"))
      val batchParas = batchDocs.select(col("doc_id"),
        regexp_replace(col("text"), " (the|a|and) ", "\n").as("text"))
      val dir = memoIndex(docs.inputFiles.toSet, "bpadmit") { d =>
        graft.streaming.CdcStream.boilerplateApplyBatch(
          paraDocs, 0L, s"$d/counts", s"$d/out", "doc_id", "text",
          minDocs = 5, sep = "\n", numBuckets = 16)
      }
      graft.streaming.CdcStream.boilerplateApplyBatch(
        batchParas.select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")),
        1L, s"$dir/counts", s"$dir/out", "doc_id", "text",
        minDocs = 5, sep = "\n", numBuckets = 16)
      spark.read.parquet(s"$dir/out/ingest_batch=1").count()
    }),
    "bm25_stream" -> (() => {
      // the STREAMING index maintainer's per-trigger cost against an
      // index already holding the whole corpus: one bm25IndexApplyBatch
      // of the fixed 1× batch. The maintainer performs NO cross-batch
      // reads (postings append, df/stats land as mergeable partials), so
      // per-trigger wall must stay ~flat (ratio collapsing toward
      // 1/Replicas) as the indexed corpus grows 10×/100× — the
      // O(batch)-by-construction claim, measured.
      val spark = docs.sparkSession
      val dir = memoIndex(docs.inputFiles.toSet, "bm25stream") { d =>
        graft.streaming.CdcStream.bm25IndexApplyBatch(
          docs, 0L, s"$d/idx", "doc_id", "text", numBuckets = 16)
      }
      graft.streaming.CdcStream.bm25IndexApplyBatch(
        batchDocs.select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")),
        1L, s"$dir/idx", "doc_id", "text", numBuckets = 16)
      spark.read.parquet(s"$dir/idx/stats").agg(sum(col("n"))).head().getLong(0)
    }),
    "bm25_stored" -> (() => {
      // the stored inverted index with bucket count ∝ corpus size (the
      // deployment rule — same as IVF cells): RARE-term lookups (the
      // needle workload bucket pruning exists for) must stay ~flat as
      // the haystack grows. Queries take each selected doc's LAST token
      // — on the expanded corpora that is the doc-unique `zq` sentinel
      // (posting list of 1); at 1× the fixture's 30-word lexicon has no
      // rare terms, so the baseline leg queries a common word whose
      // posting list is already corpus-sized — an UPPER-bound baseline,
      // making the measured collapse conservative. (Since r14 the
      // block-max sidecar early-terminates common-term queries too, so
      // BOTH legs read a bounded impact prefix; bm25_stored_rare pins
      // the fixed-df form of the same claim.)
      val spark = docs.sparkSession
      val n = docs.count()
      val buckets = math.max(64L, n / 100L).toInt
      val dir = memoIndex(docs.inputFiles.toSet, "bm25idx") { d =>
        graft.ext.TextOps.materializeBm25Index(
          docs, "doc_id", "text", d, numBuckets = buckets)
      }
      val queries = docs.where(pmod(col("doc_id"), lit(Replicas)) === 1)
        .orderBy("doc_id").limit(10)
        .select(col("doc_id").as("q_id"),
          element_at(split(trim(col("text")), "\\s+"), -1).as("qtext"))
      graft.ext.TextOps
        .bm25TopKStored(spark, dir, queries, "q_id", "qtext", k = 5)
        .count()
    }),
    "bm25_stored_guard" -> (() => {
      // the stopword guard's scale claim: a query carrying the corpus's
      // MOST COMMON token (posting list ∝ corpus size — the workload
      // bucket pruning cannot help with, since the stopword's bucket IS
      // huge) probes with maxQueryTermDfFrac set, which drops the term
      // from the dictionary read alone — probe wall must stay ~flat as
      // the stopword's posting list grows with the corpus.
      val spark = docs.sparkSession
      val n = docs.count()
      val buckets = math.max(64L, n / 100L).toInt
      val dir = memoIndex(docs.inputFiles.toSet, "bm25idx") { d =>
        graft.ext.TextOps.materializeBm25Index(
          docs, "doc_id", "text", d, numBuckets = buckets)
      }
      // the corpus's top token, derived once per corpus (untimed memo —
      // probing it unguarded would time the posting-list scan this
      // probe exists to avoid)
      val tokDir = memoIndex(docs.inputFiles.toSet, "bm25stop") { d =>
        val tok = docs
          .select(explode(split(trim(col("text")), "\\s+")).as("t"))
          .where(col("t") =!= "")
          .groupBy("t").count()
          .orderBy(col("count").desc, col("t")).limit(1)
          .head().getString(0)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.write(java.nio.file.Paths.get(d, "tok"), tok.getBytes("UTF-8"))
        ()
      }
      val stop = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tokDir, "tok")), "UTF-8")
      val queries = docs.where(pmod(col("doc_id"), lit(Replicas)) === 1)
        .orderBy("doc_id").limit(10)
        .select(col("doc_id").as("q_id"),
          concat(lit(stop), lit(" "),
            element_at(split(trim(col("text")), "\\s+"), -1)).as("qtext"))
      graft.ext.TextOps
        .bm25TopKStored(spark, dir, queries, "q_id", "qtext", k = 5,
          maxQueryTermDfFrac = Some(0.5))
        .count()
    }),
    "bm25_stored_rare" -> (() => {
      // the block-max done-criterion probe (r13 verdict #1): FIXED-df
      // query terms while the corpus grows. The expansion's mutation
      // tokens m<k>x<i> appear once per source doc at replica k (the
      // i-th word of every ((k mod 5)+3)-stride replacement), so their
      // df is bounded by the 1× doc count at EVERY expansion — a flat
      // wall here means the probe reads the query's own posting mass
      // (one or two impact blocks per term + dict/blockmax rows), never
      // the corpus. At 1× the terms are absent and the probe measures
      // the fixed floor (marker + stats + pruned dict reads) — the
      // 0-mass limit of the same claim. Terms chosen on the stride
      // grid so they EXIST at every expansion ≥ 5 replicas: k=2 strides
      // 5, k=3 strides 6, k=4 strides 7.
      val spark = docs.sparkSession
      val n = docs.count()
      val buckets = math.max(64L, n / 100L).toInt
      val dir = memoIndex(docs.inputFiles.toSet, "bm25idx") { d =>
        graft.ext.TextOps.materializeBm25Index(
          docs, "doc_id", "text", d, numBuckets = buckets)
      }
      val queries = spark.createDataFrame(
        (0 until 10).map(i => (i.toLong, s"m2x${5 * (i % 3 + 1)} m3x${6 * (i % 4 + 1)} m4x${7 * (i % 2 + 1)}")))
        .toDF("q_id", "qtext")
      val c = graft.ext.TextOps
        .bm25TopKStored(spark, dir, queries, "q_id", "qtext", k = 5)
        .count()
      recordBmRounds(docs.inputFiles.toSet, "bm25_stored_rare")
      c
    }),
    "bm25_compacted_rare" -> (() => {
      // the STREAMED-index twin of bm25_stored_rare: the index is built
      // by the maintainer (one batch-0 append of the whole corpus —
      // unblocked postings, full-scan probes) and then compacted, whose
      // fold assigns impact blocks and re-arms the block-max sidecar in
      // the same pass (compactBm25Index). Flat wall here = a long-running
      // ingest deployment keeps needle-term latency after every
      // maintenance window without an offline materializeBm25Index
      // rebuild (which cannot share the maintainer's path).
      val spark = docs.sparkSession
      val dir = memoIndex(docs.inputFiles.toSet, "bm25cmp") { d =>
        graft.streaming.CdcStream.bm25IndexApplyBatch(
          docs, 0L, s"$d/idx", "doc_id", "text", numBuckets = 16)
        graft.streaming.CdcStream.compactBm25Index(spark, s"$d/idx", upToBatch = 0L)
      }
      val queries = spark.createDataFrame(
        (0 until 10).map(i => (i.toLong, s"m2x${5 * (i % 3 + 1)} m3x${6 * (i % 4 + 1)} m4x${7 * (i % 2 + 1)}")))
        .toDF("q_id", "qtext")
      val c = graft.ext.TextOps
        .bm25TopKStored(spark, s"$dir/idx", queries, "q_id", "qtext", k = 5)
        .count()
      recordBmRounds(docs.inputFiles.toSet, "bm25_compacted_rare")
      c
    }),
    "pipeline_ingest" -> (() => {
      // the COMPOSED five-stage ingest recipe's per-trigger cost: all
      // four stateful stores (boilerplate counts, gram, winnow, banded
      // Hamming) are built by ingesting the corpus as batch 0 through
      // the pipeline itself (memoized, untimed — the accumulated
      // deployment state), the semantic reference index is the fixed
      // decontamination screen; the timed leg is ONE
      // ingestPipelineApplyBatch of the fixed 1× batch. Per-trigger
      // wall must stay ~flat as the stores grow — the composition adds
      // the stages' O(batch + touched buckets) costs, it must not
      // multiply them.
      val spark = docs.sparkSession
      val e = embs
      val dir = memoIndex(docs.inputFiles.toSet ++ e.inputFiles.toSet, "pipeline") { d =>
        val n = e.count()
        val kk = math.max(64L, n / 1000L).toInt
        val ref = e.where(col("vec_id") % 3 === 1)
        Dedup.writeSemanticIndex(
          Dedup.semanticIndex(ref, "vec_id", "embedding", kk),
          Dedup.semanticSeeds(ref, "vec_id", "embedding", kk),
          s"$d/semidx")
        val corpus = docs.join(e, docs("doc_id") === e("vec_id"))
          .select(docs("doc_id"), col("text"),
            xxhash64(col("text")).as("hh"), col("embedding").as("emb"))
        // the seed build feeds the WHOLE corpus as one batch — far past
        // the micro-batch contract every stage is sized for, so disable
        // broadcast planning for it: at 100× the Hamming multiprobe side
        // of the corpus-vs-itself in-batch check is ~12 GiB, and the
        // static row estimate still picks broadcast (hard 8 GiB cap
        // aborts). Sort-merge handles it; the TIMED 1× leg below keeps
        // the production plan untouched.
        val spark = docs.sparkSession
        SessionConf.withConf(spark,
            "spark.sql.autoBroadcastJoinThreshold" -> "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
          graft.streaming.CdcStream.ingestPipelineApplyBatch(
            corpus, 0L, s"$d/store", s"$d/semidx", "doc_id", "text", "hh", "emb",
            k = 10, minDocsBoiler = 5, w = 4, windowSize = 3, minShared = 3,
            maxDf = 8L, radius = 11, threshold = 0.9, numBuckets = 16,
            hashKey = true, portable = false,
            // corpus-sized one-off feed, not a micro-batch: keep the
            // session's full shuffle width (the timed 1× leg below keeps
            // the production micro-batch default)
            shuffleWidth = 32)
        }
      }
      val b = batchDocs.join(batchEmbs, batchDocs("doc_id") === batchEmbs("vec_id"))
        .select((batchDocs("doc_id") + 1000000000000L).as("doc_id"), col("text"),
          xxhash64(col("text")).as("hh"), col("embedding").as("emb"))
      graft.streaming.CdcStream.ingestPipelineApplyBatch(
        b, 1L, s"$dir/store", s"$dir/semidx", "doc_id", "text", "hh", "emb",
        k = 10, minDocsBoiler = 5, w = 4, windowSize = 3, minShared = 3,
        maxDf = 8L, radius = 11, threshold = 0.9, numBuckets = 16,
        hashKey = true, portable = false)
      spark.read.parquet(s"$dir/store/admitted/ingest_batch=1").count()
    }),
    "hamming_admit" -> (() => {
      // the perceptual families' admission path (finding #2 of the r10
      // verdict: the pair stage was stressed via simhash but admission
      // never was): a fixed 1× batch of 64-bit sketches probes the
      // STORED banded index as it grows with the corpus. Sketches are
      // xxhash64 content hashes standing in for the perceptual hash
      // frame — admission cost is hash-source-independent (16 bytes/row
      // whatever produced them), and encoding 100× of real PNG fixtures
      // would time fixture synthesis, not admission. Replica-0 rows
      // carry the original text, so the batch's hashes hit them at
      // Hamming 0 (dup_snapshot) while random cross-hashes sit near 32.
      val spark = docs.sparkSession
      val dir = memoIndex(docs.inputFiles.toSet, "hamidx") { d =>
        Dedup.hammingIndexBanded(
            docs.select(col("doc_id"), xxhash64(col("text")).as("hh")), "doc_id", "hh")
          .write.partitionBy("blk").parquet(d)
      }
      Dedup.hammingAdmitBanded(
          spark.read.parquet(dir),
          batchDocs.select(
            (col("doc_id") + 1000000000000L).as("doc_id"),
            xxhash64(col("text")).as("hh")),
          "doc_id", "hh", radius = 11)
        .where(col("status") =!= "new").count()
    })
  )

  /** The batch-DIRECTORY-count axis of the streaming stores, measured —
    * the failure mode the compactors exist for: a maintainer at the
    * reference's 5 s cadence accumulates one `ingest_batch=` partition
    * per trigger (~17k/day), and probe wall then grows with FILE
    * LISTING long before data size. Both probes hold the postings SET
    * constant per corpus and vary only the layout: the store is the
    * corpus's winnowing postings fragmented across ~100 (1×) → ~1000
    * (10×) `ingest_batch=` partitions (each doc in exactly one batch —
    * the maintainer's own invariant), probed by one fixed 1× batch.
    * `winnow_probe_frag` probes the fragmented store directly — its
    * wall carries the listing growth; `winnow_probe_compacted` runs
    * [[graft.streaming.BatchedStore.compact]] at build
    * (untimed — the offline chore) and probes the folded
    * single-partition store, whose wall must stay ~flat (x_vs_linear
    * collapsing toward 1/Replicas). The dir count is capped at 2000:
    * past that a deep-replica probe times parquet-writer file churn at
    * build, not listing at probe.
    */
  private def winnowDirProbe(
      docs: DataFrame,
      batchDocs: DataFrame,
      compact: Boolean,
      dirCap: Option[Int] = None): Long = {
    val spark = docs.sparkSession
    val ratio = math.max(1L, docs.count() / math.max(1L, batchDocs.count()))
    val nDirs = dirCap.getOrElse(math.min(100L * ratio, 2000L).toInt)
    val tag = (if (compact) "winfrag_c" else "winfrag") + dirCap.map(c => s"_$c").getOrElse("")
    val dir = memoIndex(docs.inputFiles.toSet, tag) { d =>
      val idx = s"$d/store"
      graft.streaming.CdcStream.stampWinnowLayout(
        spark, idx, w = WinnowW, windowSize = WinnowWindow, maxDf = WinnowMaxDf,
        numBuckets = 16, portable = false)
      Dedup.winnowingPostings(docs, "doc_id", "text",
        w = WinnowW, windowSize = WinnowWindow, portable = false)
        .withColumn("fb", pmod(xxhash64(col("fp")), lit(16)).cast("int"))
        .withColumn("ingest_batch", pmod(xxhash64(col("id")), lit(nDirs)))
        .repartition(col("ingest_batch"), col("fb"))
        .write.partitionBy("ingest_batch", "fb").parquet(idx)
      if (compact)
        graft.streaming.BatchedStore.Win.compact(spark, idx, upToBatch = nDirs - 1L)
    }
    graft.streaming.CdcStream.winnowAdmitApplyBatch(
      batchDocs.select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")),
      nDirs.toLong + 1L, s"$dir/store", s"$dir/out", "doc_id", "text",
      w = WinnowW, windowSize = WinnowWindow, minShared = WinnowMinShared,
      maxDf = WinnowMaxDf, numBuckets = 16, portable = false)
    spark.read.parquet(s"$dir/out")
      .where(col("ingest_batch") === nDirs.toLong + 1L).count()
  }

  private def ops(docs: => DataFrame, embs: => DataFrame): Seq[(String, () => Long)] = Seq(
    "ngram_jaccard" -> (() =>
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = ShingleN, threshold = JaccardThr,
        maxShingleDf = NgramMaxDf).count()),
    "winnow_pairs" -> (() =>
      // the MOSS sampled-fingerprint first pass (production xxhash64
      // path): same candidate-funnel shape as ngram_jaccard on ~1/window
      // of the postings. Read rows_10x with the semantic_dedup caveat:
      // window-min selection skews df toward globally-small hashes and
      // minShared=3 is a looser screen than Jaccard 0.4, so the output
      // rides the stress corpus's quadratic duplication band — the
      // measured x_vs_linear stays sublinear, but on wider output
      Dedup.winnowingNearDupPairs(docs, "doc_id", "text",
        w = WinnowW, windowSize = WinnowWindow,
        minShared = WinnowMinShared, maxDf = WinnowMaxDf).count()),
    "minhash" -> (() =>
      Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        shingleN = ShingleN, numHashes = MinhashNumHashes, bands = MinhashBands,
        jaccardThreshold = JaccardThr).count()),
    "simhash" -> (() =>
      Dedup.simhashNearDupPairsVerified(docs, "doc_id", "text",
        shingleN = ShingleN, jaccardThreshold = JaccardThr).count()),
    "components" -> (() => {
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = ShingleN,
        threshold = JaccardThr, maxShingleDf = NgramMaxDf).select("id_a", "id_b")
      Dedup.duplicateComponents(pairs).count()
    }),
    "embedding_lsh" -> (() =>
      Dedup.embeddingNearDupPairsLsh(embs, "vec_id", "embedding", 0.9).count()),
    "substring" -> (() =>
      // production shuffle shape (8-byte gram hashes); work is one
      // positional explode + gram hash agg + doc-keyed run merge — linear
      // in total tokens whatever the duplication rate
      Dedup.exactSubstringSpans(docs, "doc_id", "text", k = 10, hashKey = true)
        .where(col("n_spans") > 0).count()),
    "semantic_dedup" -> (() => {
      // the documented scale dial in action: cells grow with the corpus
      // (target ~1k vectors/cell), so the within-cell pair stage stays
      // ~n·1000 instead of n²/constant
      val n = embs.count()
      val k = math.max(64L, n / 1000L).toInt
      Dedup.semanticDedup(embs, "vec_id", "embedding", k, 0.9)
        .where(!col("kept")).count()
    })
  )

  /** Time-series family over the expanded events corpus — the custom
    * physical/bucketed operators' scale pins (the gate shapes from
    * RelationalQueries/ExtensionQueries, timed at volume): the sorted-merge
    * as-of exec is one co-partitioned sort + O(1)-state merge, the range
    * join is an epoch-bucket equi-join with fixed 2× probe fan-out,
    * gapfill explodes each user's grid map-side, the bucketed time-weight
    * is one key window + bounded segment-split explode feeding a
    * partitioning-reusing aggregate (one shuffle total), and SCD2 history
    * is one PK-keyed lead window over snapshot ∪ log — all keyed per
    * user/PK, so user-axis growth must stay ~linear or the plan shape
    * regressed.
    */
  /** Per-corpus rollup materializations for the rollup_rewrite probe:
    * corpus file-set → (rollup parquet dir, canonical measure SQL).
    */
  private val rollupMemo =
    scala.collection.mutable.Map[Set[String], (String, String)]()

  /** Per-corpus materializations for the rollup_serve_tail probe — its
    * own memo (not a sentinel-keyed entry in [[rollupMemo]]): corpus
    * file-set → (100-file ts-ranged raw copy dir, rollup-over-registered-
    * 99% dir, canonical measure SQL).
    */
  private val serveTailMemo =
    scala.collection.mutable.Map[Set[String], (String, String, String)]()

  private def timeOps(ev: => DataFrame): Seq[(String, () => Long)] = Seq(
    "asof_exec" -> (() => {
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOfJoin
        .backwardExec(clicks, errors, Seq("user_id"), "ts", "event_id", Seq("event_id"))
        .count()
    }),
    "range_join" -> (() => {
      val e = ev.select("user_id", "ts", "event_id")
      graft.operators.RangeJoin
        .within(e, e, Seq("user_id"), "ts", "ts", windowMicros = 3600L * 1000000L)
        .count()
    }),
    "gapfill" -> (() =>
      graft.operators.GapFill
        .fill(ev, Seq("user_id"), "ts", "value", bucketMicros = 3600L * 1000000L)
        .count()),
    "time_weight_bucketed" -> (() =>
      graft.operators.TsAnalytics
        .timeWeightedBucketed(ev, Seq("user_id"), "ts", "value", bucketSeconds = 3600L)
        .count()),
    // the other two members of the bucketed edge-split family: same
    // one-window + bounded-posexplode + partitioning-reusing aggregate
    // plan as time_weight_bucketed, with the reset-adjustment (counter)
    // and in-bucket point accessors on top — user-axis growth must stay
    // ~linear like the time-weight twin
    "counter_bucketed" -> (() =>
      graft.operators.TsAnalytics
        .counterAggBucketed(ev, Seq("user_id"), "ts", "value", bucketSeconds = 3600L)
        .count()),
    "gauge_bucketed" -> (() =>
      graft.operators.TsAnalytics
        .gaugeAggBucketed(ev, Seq("user_id"), "ts", "value", bucketSeconds = 3600L)
        .count()),
    "rollup_rewrite" -> (() => {
      // the rewrite's scale claim measured directly: the daily aggregate
      // is written against RAW events but served from the hourly rollup,
      // so the timed work should be ~rollup-sized, not corpus-sized —
      // x_vs_linear collapsing toward 0 at 10× IS the feature. The
      // rollup build is memoized per corpus (the IVF prebuild convention
      // in min-of-Runs form: the first timed run pays the one-off build,
      // the min reflects the steady-state served query).
      import graft.plans.RollupRewrite
      val raw = ev
      val m = floor(col("value") * 10000 + 0.5).cast("long")
      val key = raw.inputFiles.toSet
      val (dir, msql) = rollupMemo.synchronized {
        rollupMemo.getOrElseUpdate(key, {
          val d = java.nio.file.Files.createTempDirectory("graft-stress-rollup").toString
          RollupRewrite.buildRollup(raw, Seq("event_type"), "ts", m, "hour")
            .write.mode("overwrite").parquet(d)
          (d, RollupRewrite.canonicalMeasure(raw, m))
        })
      }
      val rollup = raw.sparkSession.read.parquet(dir)
      RollupRewrite.clear()
      RollupRewrite.register("stress", RollupRewrite.Spec(
        key, rollup.queryExecution.analyzed, Seq("event_type"), "ts", "hour", msql))
      RollupRewrite.install(raw.sparkSession)
      val q = raw
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), sum(m).as("s"), min(m).as("mn"), max(m).as("mx"))
      require(q.queryExecution.executedPlan.toString.contains(new java.io.File(dir).getName),
        "stress rollup rewrite did not fire")
      val n = q.count()
      RollupRewrite.clear()
      n
    }),
    "rollup_serve_tail" -> (() => {
      // the REAL-TIME serve claim measured directly (RollupRewrite's
      // tail contract: serve cost tracks TAIL size, not corpus size):
      // register the rollup over all but ~1% of the corpus's files, then
      // run the daily aggregate over the FULL table — the rewrite serves
      // rollup UNION partial-aggregate(unregistered tail files only), so
      // the timed work is rollup-rows + 1% of the corpus. x_vs_linear
      // must stay ≤ ~0.05 at every expansion or the FilteredFileIndex
      // stopped pruning. Rollup build memoized per corpus (the
      // rollup_rewrite convention).
      import graft.plans.RollupRewrite
      val m = floor(col("value") * 10000 + 0.5).cast("long")
      val spark = ev.sparkSession
      // one-off per corpus (outside the steady-state min-of-runs): a
      // 100-file ts-ranged copy of the corpus — so "the tail" is a real
      // 1%-of-files suffix at every expansion — plus the rollup over the
      // registered 99%
      val (rawDir, dir, msql) = serveTailMemo.synchronized {
        serveTailMemo.getOrElseUpdate(ev.inputFiles.toSet, {
          val d = java.nio.file.Files.createTempDirectory("graft-stress-serve").toString
          ev.repartitionByRange(100, col("ts")).write.parquet(s"$d/raw")
          val all = spark.read.parquet(s"$d/raw")
          val regFiles = all.inputFiles.sorted.dropRight(1)
          RollupRewrite.buildRollup(
              spark.read.parquet(regFiles: _*), Seq("event_type"), "ts", m, "hour")
            .write.parquet(s"$d/rollup")
          (s"$d/raw", s"$d/rollup", RollupRewrite.canonicalMeasure(all, m))
        })
      }
      val raw = spark.read.parquet(rawDir)
      val regFiles = raw.inputFiles.sorted.dropRight(1)
      val rollup = spark.read.parquet(dir)
      RollupRewrite.clear()
      RollupRewrite.register("stress_tail", RollupRewrite.Spec(
        regFiles.toSet, rollup.queryExecution.analyzed, Seq("event_type"), "ts", "hour",
        msql, measureExpr = Some(RollupRewrite.resolvedMeasure(raw, m))))
      RollupRewrite.install(spark)
      val q = raw
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), sum(m).as("s"), min(m).as("mn"), max(m).as("mx"))
      require(q.queryExecution.executedPlan.toString.contains(new java.io.File(dir).getName),
        "stress rollup tail serve did not fire")
      val n = q.count()
      RollupRewrite.clear()
      n
    }),
    "scd2_history" -> (() => {
      val log = ev.select(
        col("event_id"),
        when(col("event_id") % 20 === 3, "DELETE").otherwise("UPDATE").as("operation"),
        to_json(struct(col("event_id").as("rid"), col("user_id"), col("value"))).as("after"))
        .withColumn("before", col("after"))
      val snapshot = ev.select(col("event_id").as("rid"), col("user_id"), col("value"))
      graft.capture.CdcApply.scd2History(
        snapshot, log, Seq("rid"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rid", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      ).count()
    })
  )

  /** CDC family — the reference's actual domain at volume: the snapshot
    * diff is one full-outer sort-merge join on the PK (capture), id
    * assignment is the distributed two-phase cumsum, and apply is a
    * latest-event-per-key window + anti-join — all PK-keyed, so the
    * user/event-axis expansion must scale ~linearly. `cur` and the
    * captured log are pre-materialized parquet (the IVF-index
    * convention: inputs aren't part of the op under test).
    */
  private def cdcOps(
      prev: => DataFrame,
      cur: => DataFrame,
      log0: => DataFrame,
      log: => DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      bucketTag: String): Seq[(String, () => Long)] = Seq(
    "cdc_capture" -> (() =>
      graft.capture.CdcCapture.capture(prev, cur, Seq("event_id"), "stress", "events").count()),
    // the same diff over PK-bucketed snapshot tables (buildCdc registers
    // them beside the parquet fixtures): co-partitioned scans, zero
    // exchange — the layout a 100 TB deployment persists its snapshots
    // in, where successive captures must not re-shuffle the table
    "cdc_capture_bucketed" -> (() => {
      val spark = prev.sparkSession
      graft.capture.CdcCapture.captureBucketed(
        spark, s"cdcb_prev_$bucketTag", s"cdcb_cur_$bucketTag",
        Seq("event_id"), "stress", "events").count()
    }),
    "cdc_assign_ids" -> (() =>
      graft.capture.CdcCapture
        .assignIdsDistributed(log0, 0L, Seq("ts", "operation", "after", "before"))
        .count()),
    "cdc_apply" -> (() =>
      graft.capture.CdcApply.applyLog(prev, log, Seq("event_id"), schema).count())
  )

  /** ANN probe paths at fixed query count and growing corpus — the shape
    * a deployment has (queries arrive at their own rate; the corpus is
    * what scales). The IVF index is pre-built per corpus OUTSIDE the
    * timed window (an index is amortized over every probe, the Bench
    * convention); LSH re-buckets the corpus inside the op, so its timing
    * includes the one codegen'd signature pass — still linear work.
    */
  private def simOps(
      queries: => DataFrame,
      embs: => DataFrame,
      ivfIndexed: => DataFrame,
      ivfCentroids: => DataFrame): Seq[(String, () => Long)] = Seq(
    "sim_lsh_topk" -> (() =>
      Similarity.lshTopK(embs, queries, "vec_id", "embedding", k = 5,
        numPlanes = 8, multiProbeBits = 1).count()),
    "sim_ivf_topk" -> (() =>
      Similarity.ivfTopK(ivfIndexed, ivfCentroids, queries, "vec_id", "embedding",
        k = 5, nProbe = 4).count()),
    // the PQ/ADC scan path: codebooks + codes are the pre-built stored
    // artifact (memoized per corpus, untimed — training is amortized over
    // every probe), the timed op is the ADC table-lookup scan of the
    // codes table plus the exact re-rank. ADC is corpus-LINEAR by design
    // (every code row is summed), so x_vs_linear reads ~1 here; the
    // scale claim this probe pins is the CONSTANT — m integer lookups
    // over m bytes/vector, no float arithmetic in the scan — visible as
    // the absolute sec_Kx against the float-scan families at the same
    // corpus size.
    "sim_pq_adc" -> (() => {
      val spark = embs.sparkSession
      val dir = memoIndex(embs.inputFiles.toSet, "pqidx") { d =>
        Similarity.pqCodebooks(embs, "vec_id", "embedding", m = 4, ksub = 16)
          .write.parquet(s"$d/cb")
        Similarity.pqEncode(
            embs, spark.read.parquet(s"$d/cb"), "vec_id", "embedding", m = 4, ksub = 16)
          .write.parquet(s"$d/codes")
      }
      Similarity.pqTopK(
        spark.read.parquet(s"$dir/codes"), spark.read.parquet(s"$dir/cb"),
        embs, queries, "vec_id", "embedding",
        k = 5, m = 4, ksub = 16, candidates = 32).count()
    }),
    // the STORED IVFADC layout (materializeIvfPqIndex → ivfPqTopKStored):
    // cells grow with the corpus (nCentroids ∝ n, the deployment rule),
    // so a fixed-nProbe probe reads a ~constant number of rows from the
    // probed cells' partitions — wall must stay ~flat (ratio collapsing
    // toward 1/Replicas) while sim_pq_adc, the unpartitioned ADC scan,
    // stays corpus-linear beside it. The build (KMeans + encode + the
    // partitioned write) is the memoized untimed artifact.
    "sim_ivfpq_stored" -> (() => {
      val spark = embs.sparkSession
      val n = embs.count()
      val cells = math.max(16L, n / 500L).toInt
      val dir = memoIndex(embs.inputFiles.toSet, "ivfpqstore") { d =>
        val (indexed, centroids) =
          Similarity.ivfIndex(embs, "vec_id", "embedding", nCentroids = cells)
        indexed.write.parquet(s"$d/indexed")
        centroids.write.parquet(s"$d/cen")
        Similarity.pqCodebooks(embs, "vec_id", "embedding", m = 4, ksub = 16)
          .write.parquet(s"$d/cb")
        val codes = Similarity.pqEncode(
          embs, spark.read.parquet(s"$d/cb"), "vec_id", "embedding", m = 4, ksub = 16)
        Similarity.materializeIvfPqIndex(
          spark.read.parquet(s"$d/indexed"), codes, s"$d/codes")
      }
      Similarity.ivfPqTopKStored(
        spark, s"$dir/codes",
        spark.read.parquet(s"$dir/indexed"), spark.read.parquet(s"$dir/cen"),
        spark.read.parquet(s"$dir/cb"), queries,
        "vec_id", "embedding", k = 5, nProbe = 4, m = 4, ksub = 16,
        candidates = 32).count()
    })
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      // AQE, matching graft.Bench: at the larger expansion factors the
      // candidate stages outgrow 32 fixed post-shuffle partitions, and
      // letting the runtime re-split oversized/skewed partitions is
      // exactly the mechanism a real cluster run would rely on
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-stress")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    // fixed-work host-speed probe ([[graft.Bench.calibrationSec]]):
    // emitted in the artifact so cross-round / cross-artifact wall
    // comparisons divide out host drift mechanically — the r16 round
    // needed a prose caveat to reconcile totals measured ~20 % apart
    val calSec = Bench.calibrationSec(spark)

    val work = java.nio.file.Files.createTempDirectory("graft-stress").toString
    // 1× table loads are cheap and always materialize; the EXPANSIONS are
    // lazy — corpora build on first touch by a surviving op's thunk, so an
    // SPARK_GRAFT_STRESS_OPS subset probe (e.g. embedding-only at 300×)
    // pays only for the corpora its family reads
    val docs1 = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val embs1 = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    // expanded corpora materialize to parquet so the timed ops read the
    // same physical layout the gates read (no recompute of the expansion
    // inside each op's lineage)
    lazy val docs10 = {
      expandDocs(docs1).write.mode("overwrite").parquet(s"$work/docs10")
      spark.read.parquet(s"$work/docs10")
    }
    lazy val embs10 = {
      expandEmbs(embs1).write.mode("overwrite").parquet(s"$work/embs10")
      spark.read.parquet(s"$work/embs10")
    }

    // fixed query set for the ANN probes (corpus scales, queries don't)
    val queries = embs1.where(col("vec_id") < 10)
    // IVF indexes pre-built per corpus, partitioned by centroid_id so the
    // probe join prunes to probed centroids' partitions (the cached-index
    // layout the gate reads)
    def buildIvf(e: DataFrame, path: String): (DataFrame, DataFrame) = {
      val (indexed, centroids) = Similarity.ivfIndex(e, "vec_id", "embedding", nCentroids = 16)
      indexed.write.mode("overwrite").partitionBy("centroid_id").parquet(s"$path/indexed")
      centroids.write.mode("overwrite").parquet(s"$path/centroids")
      (spark.read.parquet(s"$path/indexed"), spark.read.parquet(s"$path/centroids"))
    }
    lazy val (ivfIdx1, ivfCen1) = buildIvf(embs1, s"$work/ivf1")
    lazy val (ivfIdx10, ivfCen10) = buildIvf(embs10, s"$work/ivf10")

    // time-series corpus: id strides from the 1× maxima keep replicas'
    // users and event ids disjoint
    val ev1 = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    lazy val (idStride, userStride) = {
      val r = ev1.agg(max("event_id"), max("user_id")).head()
      (r.getLong(0) + 1L, r.getLong(1) + 1L)
    }
    lazy val ev10 = {
      expandEvents(ev1, userStride, idStride).write.mode("overwrite").parquet(s"$work/ev10")
      spark.read.parquet(s"$work/ev10")
    }

    // CDC corpora: mutated next-snapshot + captured change log per scale,
    // materialized so the timed ops read parquet, not the mutation lineage
    def buildCdc(ev: DataFrame, path: String, tag: String): (DataFrame, DataFrame, DataFrame) = {
      mutateSnapshot(ev, idStride * Replicas).write.mode("overwrite").parquet(s"$path/cur")
      val cur = spark.read.parquet(s"$path/cur")
      // PK-bucketed snapshot twins for the exchange-free capture probe
      // (fixture, untimed — a deployment persists snapshots this way)
      graft.capture.CdcCapture.writeSnapshotBucketed(
        ev, s"cdcb_prev_$tag", s"$path/bprev", Seq("event_id"), 32)
      graft.capture.CdcCapture.writeSnapshotBucketed(
        cur, s"cdcb_cur_$tag", s"$path/bcur", Seq("event_id"), 32)
      graft.capture.CdcCapture.capture(ev, cur, Seq("event_id"), "stress", "events")
        .write.mode("overwrite").parquet(s"$path/log0")
      val log0 = spark.read.parquet(s"$path/log0")
      graft.capture.CdcCapture
        .assignIdsDistributed(log0, 0L, Seq("ts", "operation", "after", "before"))
        .write.mode("overwrite").parquet(s"$path/log")
      (cur, log0, spark.read.parquet(s"$path/log"))
    }
    lazy val (cur1, log01, logA1) = buildCdc(ev1, s"$work/cdc1", "c1")
    lazy val (cur10, log010, logA10) = buildCdc(ev10, s"$work/cdc10", s"c$Replicas")
    val evSchema = ev1.schema

    // min of `Runs` timings per op (the graft.Bench convention): the
    // heavy candidate stages are GC-luck-sensitive (simhash at 10×
    // swung 22-92 s single-shot), and the minimum is the steady-state
    // cost the scaling claim is about
    val Runs = 2
    def runAll(opList: Seq[(String, () => Long)], runs: Int): Seq[(String, Long, Double)] =
      opList.map { case (name, f) =>
        val timings = (1 to runs).map { _ =>
          // the dedup ops cache sketch/shingle frames internally for
          // their own multi-scan plans; dropping them between runs keeps
          // each measurement cold-cache and stops earlier ops' storage
          // from forcing this op's working set to spill
          spark.catalog.clearCache()
          time(f())
        }
        (name, timings.head._1, timings.map(_._2).min)
      }

    def opsAt(
        d: => DataFrame, e: => DataFrame, idx: => DataFrame, cen: => DataFrame,
        evs: => DataFrame, cur: => DataFrame, log0: => DataFrame, log: => DataFrame,
        cdcTag: String) =
      (ops(d, e) ++ admitOps(d, e, docs1, embs1) ++
        simOps(queries, e, idx, cen) ++ timeOps(evs) ++
        cdcOps(evs, cur, log0, log, evSchema, cdcTag))
        .filter { case (n, _) => OnlyOps.forall(_.contains(n)) }

    // warm (JIT, codegen, file index) once with the small corpus, untimed
    opsAt(docs1, embs1, ivfIdx1, ivfCen1, ev1, cur1, log01, logA1, "c1")
      .foreach { case (_, f) => f(); () }

    // 1× legs get one extra run: they seed EVERY ratio denominator, and
    // a single cold or noisy-neighbor measurement there distorts the
    // whole artifact (the r16 100× cut recorded substring_stream
    // sec_1x 6.26 vs 2.0/2.72 in the sibling artifacts while the op
    // itself was flat at scale). The 1× ops are cheap; the Kx legs keep
    // min-of-Runs.
    val base = runAll(
      opsAt(docs1, embs1, ivfIdx1, ivfCen1, ev1, cur1, log01, logA1, "c1"), Runs + 1)
    val bigOps = opsAt(docs10, embs10, ivfIdx10, ivfCen10, ev10, cur10, log010, logA10,
      s"c$Replicas")
    val big0 = runAll(bigOps, Runs)
    // Outlier re-run for the HARNESS-ASSERTED legs — the graft.Bench
    // discipline ("any query whose min still exceeds 2x the suite
    // median gets a third trial") applied to the scale gates: a Kx leg
    // whose min-of-Runs reads past its asserted bound gets ONE fresh
    // min-of-Runs window and keeps the better reading. Why: across this
    // round's cuts the SAME binary flipped hamming_admit 4.20 → 2.05 s
    // and winnow_admit ~2 → 4.16 s between runs with no code change on
    // those paths — a single window's minimum is not separable from
    // host noise at the bounds' tightness, while the failure class the
    // gates exist for (store-proportional probes, 3-30x) fails every
    // window. The re-measured value replaces the leg's artifact column
    // too: the artifact must record what the assert judged.
    // Any leg that was re-measured records BOTH readings in the artifact
    // (sec_<K>x_first + rerun flag) so a reader can distinguish a
    // first-window pass from a retried leg — an r18-advice finding: a
    // silent math.min mixed methodologies with no trace a re-measurement
    // occurred.
    val rerunLog = scala.collection.mutable.Map[String, (Double, Double)]()
    val big = {
      val thunks = bigOps.toMap
      val s1 = base.map(t => t._1 -> t._3).toMap
      val kxSec = big0.map(t => t._1 -> t._3).toMap
      def assertedBound(nm: String): Option[Double] = nm match {
        case "substring_admit" | "semantic_admit" | "winnow_admit" | "hamming_admit" =>
          s1.get(nm).map(2.0 * _ + 0.5)
        case "winnow_probe_maintained" =>
          kxSec.get("winnow_probe_compacted").map(2.0 * _ + 0.5)
        case "pipeline_ingest" if Replicas >= 100 =>
          Some(PipelineCadenceSec * calSec / ReferenceCalSec)
        case _ => None
      }
      big0.map { case (nm, c, s) =>
        assertedBound(nm) match {
          case Some(b) if s > b && thunks.contains(nm) =>
            System.err.println(
              f"[stress] $nm Kx leg $s%.2f s past its asserted bound $b%.2f s — outlier re-run")
            val again = (1 to Runs).map { _ =>
              spark.catalog.clearCache(); time(thunks(nm)())._2
            }.min
            rerunLog(nm) = (s, again)
            (nm, c, math.min(s, again))
          case _ => (nm, c, s)
        }
      }
    }
    // rows_k = rows_1 · Replicas exactly (expandDocs emits one row per
    // (doc, k)) — computed, not counted, so a docs-free subset probe
    // never forces the docs expansion
    val rows1 = docs1.count(); val rows10 = rows1 * Replicas

    val k = s"${Replicas}x"

    // Work-normalized accounting for the embedding LSH family. Its OUTPUT
    // pairs grow with the corpus's duplication rate — quadratic in
    // Replicas here, because the replica flip masks are periodic in k and
    // distinct replicas of one source collide exactly (see the Replicas
    // scaladoc) — so wall/linear alone conflates data-driven output
    // growth with engine growth. Price the engine's actual work instead:
    // probe rows (n · bands, the geometry the adaptive cutover picks at
    // each n), PRE-DEDUP candidate rows (the banded join's real output —
    // a planted duplicate pair matches in up to `bands` bands and each
    // occurrence is generated, shuffled and partially aggregated before
    // the pair dedup collapses it; pricing only deduped pairs was the
    // r14 30× anomaly, 1.76× "excess" that was this uncounted term) and
    // deduped candidates (each costs the two verify joins + cosine).
    // `x_vs_linear_work` is (sec_K/work_K)/(sec_1/work_1); the 1× leg is
    // mostly fixed job overhead, so the honest cross-scale read is sec
    // ratio vs work ratio BETWEEN the 10×/30×/100× artifacts — the raw
    // cand/probe fields are emitted for exactly that comparison.
    val extras: Map[String, String] =
      if (base.exists(_._1 == "embedding_lsh")) {
        def work(e: DataFrame): (Long, Long, Long) = {
          val n = e.count()
          val raw = Dedup.embeddingLshCandidateRawCount(e, "vec_id", "embedding")
          val cand = Dedup.embeddingLshCandidates(e, "vec_id", "embedding").count()
          (Dedup.lshGeometry(n)._1.toLong * n, raw, cand)
        }
        val (pw1, r1, c1) = work(embs1)
        val (pwK, rK, cK) = work(embs10)
        val s1 = base.find(_._1 == "embedding_lsh").get._3
        val sK = big.find(_._1 == "embedding_lsh").get._3
        val ratio = (sK / (pwK + rK + cK).toDouble) /
          math.max(s1 / (pw1 + r1 + c1).toDouble, 1e-12)
        Map("embedding_lsh" ->
          f""",\"probe_rows_1x\":$pw1,\"cand_raw_1x\":$r1,\"cand_1x\":$c1,\"probe_rows_$k\":$pwK,\"cand_raw_$k\":$rK,\"cand_$k\":$cK,\"x_vs_linear_work\":$ratio%.2f""")
      } else Map.empty
    // Same work-normalization for semantic_dedup — and here the work
    // ratio is the PRIMARY metric, with the wall ratio explicitly
    // demoted: the op's K dial (max(64, n/1000)) FLOORS at 64 on the 1×
    // corpus (n/1000 ≈ 5-6), so the 1× baseline does ~K_contract/K_floor
    // LESS within-cell pair work per row than the scaled runs whose K
    // rides the n/1000 contract — wall/linear across that floor
    // compares two different per-row workloads and is structurally
    // meaningless (the r15 verdict's 1.39× reading). The honest pins
    // emitted instead: (a) `x_vs_linear_work` — wall per unit of
    // measured work (assignment cosines n·K + Σ C(cell,2) within-cell
    // pairs), the engine-scaling claim; (b) `cell_pairs_vs_contract` —
    // measured pairs against the K-contract's even-split n²/2K,
    // HARNESS-ASSERTED inside [0.8, 8] (the r16 verdict finding: the
    // shipped 100× artifact read 4.4 against a documented ≈1-2 band
    // and nothing failed). The band's floor is convexity — even split
    // MINIMIZES Σ C(cell,2), so a ratio well under 1 means the
    // denominator is wrong, not the engine fast. The ceiling prices
    // the measured skew mechanism on this corpus: seeds are the K
    // lowest-id vectors, and at deep replica counts those ids span
    // only ~K/Replicas source families, so the seed set loses
    // diversity and cell sizes skew (measured 1.18 / 1.57 / 4.4 at
    // 10/30/100×). A silently quadratic regression — the failure this
    // guard exists for — reads ~K (50-200), an order of magnitude past
    // the ceiling, and now fails the run instead of shipping.
    val SemCellPairsBand = (0.8, 8.0)
    val extrasSem: Map[String, String] =
      if (base.exists(_._1 == "semantic_dedup")) {
        def work(e: DataFrame): (Long, Long, Long, Double) = {
          val n = e.count()
          val kk = math.max(64L, n / 1000L).toInt
          val pairs = Dedup.semanticIndex(e, "vec_id", "embedding", kk)
            .groupBy("cluster").count()
            .agg(sum(col("count") * (col("count") - 1) / 2).cast("long")).head().getLong(0)
          val contract = n.toDouble * n.toDouble / (2.0 * kk)
          (n * kk, pairs, kk.toLong, pairs / math.max(contract, 1.0))
        }
        val (aw1, p1, k1, c1) = work(embs1)
        val (awK, pK, kK, cK) = work(embs10)
        Seq(("1x", c1), (k, cK)).foreach { case (leg, c) =>
          require(c >= SemCellPairsBand._1 && c <= SemCellPairsBand._2,
            f"semantic_dedup cell-pair volume off the contract band at $leg: " +
              f"cell_pairs_vs_contract = $c%.2f outside [${SemCellPairsBand._1}, " +
              f"${SemCellPairsBand._2}] — a ratio near K means the within-cell " +
              "stage went quadratic (K stopped scaling with n, or assignment " +
              "collapsed into few cells); well under 1 means the contract " +
              "denominator itself is wrong")
        }
        val s1 = base.find(_._1 == "semantic_dedup").get._3
        val sK = big.find(_._1 == "semantic_dedup").get._3
        val ratio = (sK / (awK + pK).toDouble) / math.max(s1 / (aw1 + p1).toDouble, 1e-12)
        Map("semantic_dedup" ->
          (f""",\"assign_cos_1x\":$aw1,\"cell_pairs_1x\":$p1,\"k_1x\":$k1,\"cell_pairs_vs_contract_1x\":$c1%.2f""" +
            f""",\"assign_cos_$k\":$awK,\"cell_pairs_$k\":$pK,\"k_$k\":$kK,\"cell_pairs_vs_contract_$k\":$cK%.2f""" +
            f""",\"x_vs_linear_work\":$ratio%.2f,\"primary_metric\":\"x_vs_linear_work\"""" +
            s""",\"cell_pairs_band\":\"[${SemCellPairsBand._1},${SemCellPairsBand._2}] harness-asserted; >1 = cell skew (lowest-id seeds lose family diversity at deep replica counts), ~K = quadratic regression\"""" +
            s""",\"wall_ratio_note\":\"1x K floors at 64 (contract n/1000 < 64), so 1x per-row within-cell work (cell_pairs_1x over n_1x) is far below the scaled runs' contract ~500/row - read x_vs_linear_work, not x_vs_linear\""""))
      } else Map.empty
    // Work-normalization for winnow_pairs (the r15 verdict's
    // non-monotone-ratio item): its wall ratio rode the planted-clone
    // corpus's QUADRATIC output band (0.94× at 30×, 0.36× at 100× — the
    // denominator missed the output term). Price the engine's real
    // candidate work instead: total postings (the linear explode +
    // df-aggregate term) + candidate OCCURRENCES (Σ C(df,2) over the
    // df∈[2,maxDf] band — every one of these rows is generated, shuffled
    // and partially aggregated by the band self-join, whether or not the
    // pair survives minShared).
    val extrasWin: Map[String, String] =
      if (base.exists(_._1 == "winnow_pairs")) {
        def work(d: DataFrame): (Long, Long) = {
          // the hoisted probe parameters — shared vals, not re-typed
          // literals, so the denominator tracks the timed closure
          val r = Dedup.winnowingPostings(d, "doc_id", "text",
              WinnowW, WinnowWindow, portable = false)
            .groupBy("fp").agg(count(lit(1)).as("df"))
            .agg(
              sum(col("df")).cast("long"),
              sum(when(col("df") >= 2 && col("df") <= WinnowMaxDf,
                col("df") * (col("df") - 1) / 2).otherwise(lit(0L))).cast("long"))
            .head()
          (r.getLong(0), r.getLong(1))
        }
        val (po1, co1) = work(docs1)
        val (poK, coK) = work(docs10)
        val s1 = base.find(_._1 == "winnow_pairs").get._3
        val sK = big.find(_._1 == "winnow_pairs").get._3
        val ratio = (sK / (poK + coK).toDouble) / math.max(s1 / (po1 + co1).toDouble, 1e-12)
        Map("winnow_pairs" ->
          f""",\"postings_1x\":$po1,\"cand_occ_1x\":$co1,\"postings_$k\":$poK,\"cand_occ_$k\":$coK,\"x_vs_linear_work\":$ratio%.2f""")
      } else Map.empty
    // Same recipe for the remaining large-wall candidate families (the
    // r16 directive: ngram 53 s / minhash 67 s / simhash 65 s /
    // components 59 s were the top 100× absolute walls, all with
    // wall-only ratios, so planted-clone output quadratics and host
    // drift produced non-monotone headline numbers — ngram read
    // 0.66/0.82/0.38 across the three artifacts). ngram_jaccard and
    // components share one posting probe (components runs the ngram
    // pair pipeline as its edge source); minhash/simhash price their
    // banded fan-out via the shared builders in Dedup, so the
    // denominator is computed by the SAME banding code the timed op
    // executes.
    val extrasNgramFam: Map[String, String] = {
      val needN = base.exists(_._1 == "ngram_jaccard")
      val needC = base.exists(_._1 == "components")
      if (!needN && !needC) Map.empty
      else {
        def work(d: DataFrame): (Long, Long) = {
          val r = Dedup.shingled(d, "doc_id", "text", ShingleN)
            .select(explode(col("shingles")).as("sh"))
            .groupBy("sh").agg(count(lit(1)).as("df"))
            .agg(
              coalesce(sum(col("df")), lit(0L)).cast("long"),
              coalesce(sum(when(col("df") >= 2 && col("df") <= NgramMaxDf,
                col("df") * (col("df") - 1) / 2).otherwise(lit(0L))), lit(0L)).cast("long"))
            .head()
          (r.getLong(0), r.getLong(1))
        }
        val (po1, co1) = work(docs1)
        val (poK, coK) = work(docs10)
        val m = scala.collection.mutable.Map.empty[String, String]
        if (needN) {
          val s1 = base.find(_._1 == "ngram_jaccard").get._3
          val sK = big.find(_._1 == "ngram_jaccard").get._3
          val ratio = (sK / (poK + coK).toDouble) / math.max(s1 / (po1 + co1).toDouble, 1e-12)
          m += "ngram_jaccard" ->
            f""",\"postings_1x\":$po1,\"cand_occ_1x\":$co1,\"postings_$k\":$poK,\"cand_occ_$k\":$coK,\"x_vs_linear_work\":$ratio%.2f"""
        }
        if (needC) {
          // the component stage's own input is the ngram EDGE list —
          // the pair count the ngram_jaccard rows field already holds
          // when that op ran in this subset; recomputed only when not
          def edges(d: DataFrame, recorded: Option[Long]): Long =
            recorded.getOrElse(
              Dedup.ngramJaccardPairs(d, "doc_id", "text", n = ShingleN,
                threshold = JaccardThr, maxShingleDf = NgramMaxDf).count())
          val e1 = edges(docs1, base.find(_._1 == "ngram_jaccard").map(_._2))
          val eK = edges(docs10, big.find(_._1 == "ngram_jaccard").map(_._2))
          val s1 = base.find(_._1 == "components").get._3
          val sK = big.find(_._1 == "components").get._3
          val ratio = (sK / (poK + coK + eK).toDouble) /
            math.max(s1 / (po1 + co1 + e1).toDouble, 1e-12)
          m += "components" ->
            f""",\"postings_1x\":$po1,\"cand_occ_1x\":$co1,\"edges_1x\":$e1,\"postings_$k\":$poK,\"cand_occ_$k\":$coK,\"edges_$k\":$eK,\"x_vs_linear_work\":$ratio%.2f"""
        }
        m.toMap
      }
    }
    def bandedSketchExtras(
        name: String, stats: DataFrame => (Long, Long, Long)): Map[String, String] =
      if (!base.exists(_._1 == name)) Map.empty
      else {
        val (po1, pr1, co1) = stats(docs1)
        val (poK, prK, coK) = stats(docs10)
        val s1 = base.find(_._1 == name).get._3
        val sK = big.find(_._1 == name).get._3
        val ratio = (sK / (poK + prK + coK).toDouble) /
          math.max(s1 / (po1 + pr1 + co1).toDouble, 1e-12)
        Map(name ->
          f""",\"postings_1x\":$po1,\"probe_rows_1x\":$pr1,\"cand_occ_1x\":$co1,\"postings_$k\":$poK,\"probe_rows_$k\":$prK,\"cand_occ_$k\":$coK,\"x_vs_linear_work\":$ratio%.2f""")
      }
    val extrasMinhash = bandedSketchExtras("minhash", d =>
      Dedup.minhashCandidateStats(
        d, "doc_id", "text", ShingleN, MinhashNumHashes, MinhashBands))
    val extrasSimhash = bandedSketchExtras("simhash", d =>
      Dedup.simhashCandidateStats(d, "doc_id", "text", ShingleN))
    // Escalation telemetry for the block-max probes (captured by the
    // probes' own closures): rounds > 1 or admitted blocks far above
    // queryTerms flags a term distribution degrading toward the full
    // scan — the observable the r14 verdict asked for.
    val extrasBm: Map[String, String] =
      Seq("bm25_stored_rare", "bm25_compacted_rare").flatMap { nm =>
        // probe-ran guard first: touching docs10.inputFiles would force
        // the lazy expansion in subset runs that never needed it
        if (bmRounds.synchronized(!bmRounds.keys.exists(_._2 == nm))) None
        else {
          val legs =
            bmRounds.get((docs1.inputFiles.toSet, nm)).map { case (r, a) =>
              s""","rounds_1x":$r,"admitted_blocks_1x":$a"""
            }.toSeq ++
              bmRounds.get((docs10.inputFiles.toSet, nm)).map { case (r, a) =>
                s""","rounds_$k":$r,"admitted_blocks_$k":$a"""
              }
          if (legs.isEmpty) None else Some(nm -> legs.mkString)
        }
      }.toMap

    // Cost-model telemetry for the semantic admission probe (the one
    // admit leg whose wall GROWS measurably with the store): per batch
    // row the probe pays K assignment cosines + ~n/K within-cell exact
    // cosines against the stored index. K = max(64, n/1000) caps n/K at
    // 1000, so the model is FLAT in store size once the corpus crosses
    // 64k vectors — the growth measured below that is the K-floor
    // transient (n/K rising toward its 1000 cap), not store-proportional
    // probe bytes. x_vs_model divides the wall ratio by the model ratio;
    // well under 1 means the engine tracks the model with its fixed
    // per-trigger overheads amortizing.
    val extrasSemAdmit: Map[String, String] =
      if (!(base.exists(_._1 == "semantic_admit") && big.exists(_._1 == "semantic_admit")))
        Map.empty
      else {
        val bRows = embs1.count()
        def model(e: DataFrame): (Long, Long, Long) = {
          val n = e.count()
          val kk = math.max(64L, n / 1000L)
          (kk, n / kk, bRows * (kk + n / kk))
        }
        val (k1, cr1, m1) = model(embs1)
        val (kK, crK, mK) = model(embs10)
        val s1 = base.find(_._1 == "semantic_admit").get._3
        val sK = big.find(_._1 == "semantic_admit").get._3
        val ratio = (sK / mK.toDouble) / math.max(s1 / m1.toDouble, 1e-12)
        Map("semantic_admit" ->
          (f""",\"k_1x\":$k1,\"cell_rows_1x\":$cr1,\"probe_cos_model_1x\":$m1""" +
            f""",\"k_$k\":$kK,\"cell_rows_$k\":$crK,\"probe_cos_model_$k\":$mK""" +
            f""",\"x_vs_model\":$ratio%.2f""" +
            s""",\"model_note\":\"probe cost per batch row = K assignment + n/K within-cell cosines; K=max(64,n/1000) caps n/K at 1000, so the model is flat in store size beyond 64k vectors - measured growth below that is the K-floor transient\""""))
      }
    val allExtras0 = extras ++ extrasSem ++ extrasSemAdmit ++ extrasWin ++ extrasNgramFam ++
      extrasMinhash ++ extrasSimhash ++ extrasBm
    // pipeline-cadence telemetry beside the assert below: raw wall PLUS
    // the reference-host-class normalization the bound applies, so a
    // reader of the artifact can re-derive the gate arithmetic
    val extrasPipe: Map[String, String] =
      big.find(_._1 == "pipeline_ingest").map { case (_, _, sK) =>
        "pipeline_ingest" ->
          (f""",\"sec_${k}_refcal\":${sK * ReferenceCalSec / calSec}%.2f""" +
            s""",\"cadence_note\":\"refcal = sec_$k x ($ReferenceCalSec / calibration_sec) - wall on the reference host class (BENCH_r17 calibration $ReferenceCalSec); the harness asserts refcal <= $PipelineCadenceSec at 100x\"""")
      }.toMap
    val allExtras1 = allExtras0 ++ extrasPipe.map { case (nm, v) =>
      nm -> (allExtras0.getOrElse(nm, "") + v)
    }
    // re-measured legs carry the trace: the reading the first window
    // produced, the re-run window's, and the flag — the sec_Kx column
    // holds min of the two (what the assert judged)
    val allExtras = allExtras1 ++ rerunLog.map { case (nm, (first, again)) =>
      nm -> (allExtras1.getOrElse(nm, "") +
        f""",\"rerun\":true,\"sec_${k}_first\":$first%.2f,\"sec_${k}_rerun\":$again%.2f""")
    }
    val per = base.zip(big).map { case ((n, c1, s1), (_, c10, s10)) =>
      val ratio = s10 / math.max(s1, 1e-9)
      f"""\"$n\":{\"rows_1x\":$c1,\"sec_1x\":${s1}%.2f,\"rows_$k\":$c10,\"sec_$k\":${s10}%.2f,\"x_vs_linear\":${ratio / Replicas}%.2f${allExtras.getOrElse(n, "")}}"""
    }
    val line =
      f"""{"metric":"dedup_stress","replicas":$Replicas,"calibration_sec":$calSec%.2f,"docs_1x":$rows1,"docs_$k":$rows10,"ops":{${per.mkString(",")}}}"""
    def writeArtifact(failed: Boolean): Unit =
      if (OnlyOps.isEmpty) {
        val name =
          if (Replicas == 10) "BENCH_STRESS.json" else s"BENCH_STRESS_${Replicas}x.json"
        val outFile = if (failed) name.stripSuffix(".json") + ".FAILED.json" else name
        val w = new java.io.PrintWriter(outFile)
        try w.println(line) finally w.close()
      }
    // HARNESS-ASSERTED scale contracts. These run AFTER the artifact
    // line is assembled: a failed contract must fail the run, but it
    // must not destroy the measurements that diagnose it — the full
    // line ships under a .FAILED name (never the official artifact,
    // which only a green run writes) and the exception still
    // propagates. The first failed cut of this round lost every number
    // except the one in the exception message; that is why.
    try {
      // Maintenance contract (the cell_pairs_vs_contract discipline):
      // the gated maintenance loop's worst between-folds state must
      // stay within ~2x of the compacted probe floor — a regression in
      // the fragmentation gate or the fold fails the run instead of
      // shipping an artifact that quietly walks toward the measured
      // cliff (winnow_probe_frag). The +0.5 s absolute slack keeps
      // sub-2-second legs from failing on host noise.
      for {
        (_, _, cSec) <- big.find(_._1 == "winnow_probe_compacted")
        (_, _, mSec) <- big.find(_._1 == "winnow_probe_maintained")
      } require(mSec <= 2.0 * cSec + 0.5,
        f"winnow_probe_maintained = $mSec%.2f s exceeds 2x the compacted floor " +
          f"($cSec%.2f s) — the fragmentation gate is not holding the maintained store " +
          "near the compacted probe cost")
      // Admission blowup gate (the r17 weak, closed by the r18
      // probe-shape + re-bucketing work): a FIXED 1x batch probing the
      // grown store must cost within 2x (+0.5 s host-noise slack) of
      // probing the 1x store. This is deliberately a BLOWUP gate, not a
      // trend gate: on ~1-3 s legs the host swings ±60% between windows
      // (a 1.5x band tripped on a winnow_admit reading whose own
      // sibling cuts sat at 1.0-1.4x), so sub-2x trends cannot be
      // separated from noise in a single min-of-2 reading — the
      // per-scale sec_1x/sec_Kx columns stay the fine-grained evidence,
      // and what MUST fail the run is the store-proportional failure
      // class (a frozen bucket layout whose bucket bytes grow with the
      // corpus, a probe join that re-scans the store), which reads
      // 3-30x here. (semantic_admit's within-band growth is the K-floor
      // transient priced by its probe_cos_model columns.)
      for {
        nm <- Seq("substring_admit", "semantic_admit", "winnow_admit", "hamming_admit")
        (_, _, s1) <- base.find(_._1 == nm)
        (_, _, sK) <- big.find(_._1 == nm)
      } require(sK <= 2.0 * s1 + 0.5,
        f"$nm reads $sK%.2f s against the ${Replicas}x store vs $s1%.2f s at 1x — " +
          "admission probe cost is tracking store size, not batch size")
      // The composed pipeline's mature-store trigger must hold the
      // reference's 5 s poll cadence — the r17 weak's headline number,
      // now a shipping gate at the deepest cut instead of a prose
      // claim. The bound is asserted in REFERENCE-HOST-CLASS seconds:
      // 5 s is a wall-clock deployment contract, and the r17 round
      // demonstrated/measured it on hosts reading calibration ~0.6
      // (BENCH_r17.json) — on a host f x slower the SAME engine reads
      // f x the wall for identical work, so comparing this host's raw
      // wall against the absolute constant would assert the host, not
      // the engine (the sandbox swings 0.78-1.53 across windows). The
      // calibration probe exists precisely to make wall comparisons
      // host-transportable; both the raw seconds and the normalized
      // value ship in the artifact (sec_<K>x_refcal above).
      if (Replicas >= 100)
        for ((_, _, sK) <- big.find(_._1 == "pipeline_ingest")) {
          require(sK * ReferenceCalSec / calSec <= PipelineCadenceSec,
            f"pipeline_ingest per-trigger cost $sK%.2f s (= " +
              f"${sK * ReferenceCalSec / calSec}%.2f s reference-class at " +
              f"calibration $calSec%.2f) at a ${Replicas}x store exceeds the " +
              f"reference's $PipelineCadenceSec%.0f s poll cadence")
          // normalization must never excuse an unbounded wall: whatever
          // the calibration reads, the RAW trigger cost also has to sit
          // within 2x the cadence on this box (r18-advice alternative —
          // the refcal gate asserts the engine, this one bounds the
          // host-term it divides out)
          require(sK <= 2.0 * PipelineCadenceSec,
            f"pipeline_ingest per-trigger cost $sK%.2f s raw exceeds 2x the " +
              f"reference's $PipelineCadenceSec%.0f s poll cadence — too slow " +
              "to attribute to host normalization alone")
        }
    } catch {
      case e: Throwable =>
        System.err.println(line)
        writeArtifact(failed = true)
        throw e
    }
    println(line)
    writeArtifact(failed = false)
    spark.stop()
  }
}
