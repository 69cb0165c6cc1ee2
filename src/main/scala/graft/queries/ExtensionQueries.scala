package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.{Overlap, Tables}
import graft.SessionConf.withConf
import graft.ext.{Dedup, Multimodal, Similarity, TextOps}
import graft.functions.GraftFunctions

/** North-star extension operators (SURVEY.md §2.6) over the `documents` and
  * `embeddings` tables: dedup family, similarity search, text analysis,
  * multimodal plumbing. SQL-expressible ops carry a DuckDB oracle; the
  * hash-function-dependent ops (MinHash/SimHash/LSH — xxhash64 has no
  * DuckDB twin) are declared without oracles and verified in unit tests
  * instead (brute-force recall checks).
  */
object ExtensionQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Write `first` then `second` as one-file parquet appends into `dir`
    * and force strictly increasing mtimes on the second write's files.
    * The folded one-run streaming gates rely on FileStreamSource
    * draining the two files oldest-first under `maxFilesPerTrigger=1`;
    * local-FS mtime granularity is a millisecond, so two back-to-back
    * writes can TIE — and FileStreamSource breaks mtime ties by listing
    * order of the randomly-named part files, which would swap
    * micro-batches 0/1 and flip order-sensitive outputs (cumulative
    * boilerplate counts, `dup_snapshot` vs `dup_batch`), turning
    * oracle-hashed gates flaky. Stamping the second batch's files one
    * minute after the first makes the drain order deterministic
    * without sleeping between writes.
    */
  private def writeOrderedBatches(first: DataFrame, second: DataFrame, dir: String): Unit = {
    first.coalesce(1).write.mode("append").parquet(dir)
    def dataFiles = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val batch0 = dataFiles.map(_.getName).toSet
    second.coalesce(1).write.mode("append").parquet(dir)
    val t0 = dataFiles.filter(f => batch0(f.getName)).map(_.lastModified).max
    dataFiles.filterNot(f => batch0(f.getName)).foreach { f =>
      require(f.setLastModified(t0 + 60000L), s"could not stamp mtime on $f")
    }
  }

  /** Planted-cluster fixture for the ANN top-k gates: for each source
    * vector (vec_id < 10) the corpus gains five copies with the first
    * component scaled ×1.01…×1.05 (ids +j·1,000,000), and the query set is
    * the ×0.995 perturbation (ids +9,000,000). Scaling one component is a
    * 2-D rotation in the (x₁, rest) plane, so cos(query, member) is
    * strictly monotone in |factor − 0.995| — the true top-5 is exactly
    * {source, ×1.01, ×1.02, ×1.03, ×1.04} with unambiguous margins
    * (cluster cos ≥ 0.999; best unrelated corpus pair ≈ 0.65; ×1.05 is
    * rank 6). Float literals (1.01f …) are the same REAL values the
    * DuckDB oracle casts, so both engines derive bit-identical vectors.
    */
  private def annClusterCorpus(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val src = e.where(col("vec_id") < 10).select("vec_id", "embedding")
    def scaled(factor: Column): Column = concat(
      array(element_at(col("embedding"), 1) * factor),
      slice(col("embedding"), lit(2), size(col("embedding")) - 1))
    // one posexplode pass builds all five copies from a single source
    // scan (a 5-way union would rescan the parquet per factor)
    val copies = src
      .select(col("vec_id"), col("embedding"),
        posexplode(array(Seq(1.01f, 1.02f, 1.03f, 1.04f, 1.05f).map(lit): _*)))
      .select(
        (col("vec_id") + (col("pos") + 1) * 1000000L).as("vec_id"),
        scaled(col("col")).as("embedding"))
    val corpus = e.select("vec_id", "embedding").unionByName(copies)
    val queries = src.select(
      (col("vec_id") + 9000000L).as("vec_id"), scaled(lit(0.995f)).as("embedding"))
    (corpus, copies, queries)
  }

  /** Shared input of the x_asap_smooth gate and its DuckDB oracle: the
    * hourly per-event_type grid (exact-long e4 sums divided once so the
    * doubles are bit-identical regardless of shuffle order) plus one
    * PLANTED key built entirely from exactly-representable doubles —
    * a daily triangle wave (period 24, zero-mean over any aligned
    * window, amplitude ±12), sparse bumps every 101 hours (prime, so no
    * SMA window the 30-lag cap admits can cancel them — the smoothed
    * residual stays real signal, never float noise), and alternating
    * ±1.5 hour jitter. The organic series carry no autocorrelation
    * structure (they select w = 1, pinning the passthrough path); the
    * planted key admits exactly one candidate window (24) with wide
    * decision margins (roughness 0.08 vs 3.7, kurtosis 2.53 vs 1.99 at
    * sf0.01), so an INDEPENDENT re-derivation — the DuckDB-SQL oracle —
    * reproduces the selection and the smoothed doubles bit-for-bit. A
    * sine planted key (the r8 shape) cannot be independently gated: any
    * candidate window is a multiple of the period, the smoothed series
    * collapses to ~1e-13 float residue, and the window choice becomes a
    * comparison of noise that only the identical binary reproduces.
    */
  private def asapGrid(s: SparkSession, dir: String): DataFrame = {
    val organic = events(s, dir)
      .where(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket_ts"))
      .agg(
        sum(floor(col("value") * 10000 + 0.5).cast("long")).as("s_e4"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("bucket_ts"),
        (col("s_e4") / col("n") / lit(10000.0)).as("v"))
    val planted = organic
      .select("bucket_ts").distinct()
      .withColumn("h", expr("unix_micros(bucket_ts) div 3600000000"))
      .select(
        lit("planted_periodic").as("event_type"),
        col("bucket_ts"),
        ((abs(col("h") % 24 - 12) - 6).cast("double") * lit(2.0) +
          when(col("h") % 101 < 3, 8.0).otherwise(0.0) +
          when(col("h") % 2 === 0, 1.5).otherwise(-1.5)).as("v"))
    organic.unionByName(planted)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: content-keyed keep-min summary
    "x_dedup_exact" -> { (s, dir) =>
      val d = docs(s, dir)
      val kept = d.groupBy("text").agg(min(col("doc_id")).as("kept_id"))
      val summary = kept.agg(count(lit(1)).as("n_unique"), sum(col("kept_id")).as("sum_kept_ids"))
      val total = d.agg(count(lit(1)).as("n_docs"))
      total.crossJoin(summary).select("n_docs", "n_unique", "sum_kept_ids")
    },

    // n-gram Jaccard near-dup pairs (exact set similarity, candidate join
    // bounded by the shingle-frequency filter)
    "x_dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup
        .ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 5, threshold = 0.4, maxShingleDf = 100L)
        .select(
          col("id_a"),
          col("id_b"),
          col("inter"),
          col("size_a"),
          col("size_b"),
          round(col("jaccard"), 4).as("jaccard")
        )
        .orderBy("id_a", "id_b")
    },

    // MinHash + LSH banding near-dup pairs. The banding stage only
    // GENERATES candidates; survivors are gated on the exact shingle
    // Jaccard, so the (id_a, id_b, jaccard) output is hash-independent and
    // carries a full DuckDB oracle (the all-pairs shingle CTE).
    // Oracle equality is CORPUS-PINNED: 16 bands × 4 rows collides with
    // prob 1-(1-j⁴)¹⁶ ≈ 0.34 at j = 0.4, so equality with the exact
    // ground truth holds because this corpus has no pairs in the
    // low-recall band — every true pair sits at j ≥ 0.75 (collision prob
    // ≥ 0.996). ExtSpec asserts the empty [0.4, 0.7) band on the gate
    // corpora so a data change fails loudly in tests, not in the gate.
    "x_dedup_minhash" -> { (s, dir) =>
      Dedup
        .minhashNearDupPairs(docs(s, dir), "doc_id", "text",
          shingleN = 5, numHashes = 64, bands = 16, jaccardThreshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    },

    // SimHash near-dup pairs: pigeonhole multiprobe block candidates on the
    // scale-safe 4×16-bit Manku layout (65536 buckets per block; 2-bit
    // probes ⇒ guaranteed recall through hamming 11, chance-found pairs
    // beyond kept) verified with the exact shingle Jaccard — same
    // oracle-checkable output contract as x_dedup_minhash through a
    // different sketch. Oracle equality is corpus-pinned (see
    // Dedup.simhashNearDupPairsVerified ORACLE NOTE); ExtSpec asserts the
    // pin (true-pair hamming ≤ 11 on the gate corpora) so a data change
    // fails loudly in tests.
    "x_dedup_simhash" -> { (s, dir) =>
      Dedup
        .simhashNearDupPairsVerified(docs(s, dir), "doc_id", "text",
          shingleN = 5, jaccardThreshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    },

    // duplicate clustering: transitive closure of the (oracle-green)
    // ngram-Jaccard pair list via min-label propagation — emits each
    // paired doc's canonical representative (min id of its component),
    // i.e. exactly what a keep-canonical retention pass consumes. The
    // DuckDB oracle recomputes the closure with a recursive CTE over the
    // same pair list, so the iterative Spark algorithm is value-checked
    // against an independent declarative evaluation. Bench note: at small
    // SF this query is round-trip-bound (pair pipeline + propagation
    // rounds of 2 shuffle stages each over a few hundred edges; the first
    // round is folded into the seed aggregate); the per-round overhead
    // amortizes at scale, where rounds stay O(cluster diameter) regardless
    // of corpus size.
    "x_dedup_components" -> { (s, dir) =>
      val pairs = Dedup
        .ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 5, threshold = 0.4, maxShingleDf = 100L)
        .select("id_a", "id_b")
      Dedup.duplicateComponents(pairs)
        .select(col("id").as("doc_id"), col("rep").as("canonical_id"))
        .orderBy("doc_id")
    },

    // quality-aware cluster retention: the same pair derivation as
    // x_dedup_components, resolved by keepBestPerCluster with token
    // count as the quality score (max tokens wins, tie → min doc_id) —
    // every doc annotated with its canonical id and the keep decision,
    // singletons kept by construction
    "x_dedup_keep_best" -> { (s, dir) =>
      val d = docs(s, dir)
      val pairs = Dedup
        .ngramJaccardPairs(d, "doc_id", "text", n = 5, threshold = 0.4, maxShingleDf = 100L)
        .select("id_a", "id_b")
      val scored = d.select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      Dedup.keepBestPerCluster(scored, pairs, "doc_id", "n_tokens")
        .select(col("id").as("doc_id"), col("canonical_id"), col("kept"))
        .orderBy("doc_id")
    },

    // chunk-level (passage) dedup: consecutive 10-word chunks, keep-first
    // across the corpus, per-doc retention stats — the sub-document dedup
    // granularity between exact-doc and shingle near-dup
    // exact-substring dedup (Lee et al. 2021 ExactSubstr, token-level):
    // every ≥10-token substring occurring twice anywhere in the corpus is
    // a duplicated span; all but the first occurrence are reported with
    // their maximal merged [start:end) token offsets. Planted full-text
    // copies (salt-PREFIXED, so the copy's span sits at shifted offsets)
    // give the deterministic signal; the oracle replicates the whole
    // k-gram → keep-first → run-merge pipeline in integer arithmetic.
    "x_substring_dedup" -> { (s, dir) =>
      val d = docs(s, dir)
      val copies = d
        .where(col("doc_id") % 10 === 0)
        .select(
          (col("doc_id") + 100000L).as("doc_id"),
          concat(lit("xdupsalt "), col("text")).as("text"))
      val corpus = d.select("doc_id", "text").unionByName(copies)
      Dedup
        .exactSubstringSpans(corpus, "doc_id", "text", k = 10)
        .orderBy("doc_id")
    },

    "x_chunk_dedup" -> { (s, dir) =>
      Dedup.chunkDedupStats(docs(s, dir), "doc_id", "text", chunkWords = 10)
        .orderBy("doc_id")
    },

    // the composed MULTIMODAL pipeline (x_pipeline_e2e's image twin):
    // real decode → perceptual hash → Hamming near-dup keep-first →
    // deterministic hash split → per-split image/pixel accounting, as
    // ONE plan. Every stage is gated alone (x_dedup_image,
    // x_split_hash); this entry gates their composition.
    "x_pipeline_multimodal" -> { (s, dir) =>
      val media = Multimodal.cachedSyntheticImages(s, docs(s, dir))
      val copies = Multimodal.perturbedImageCopies(
        media.filter(col("media_id") % 10 === 0), idOffset = 200000L, rgbXor = 0x010101)
      val hashes = Multimodal.perceptualHashes(media.unionByName(copies)).toDF().cache()
      val pairs = Dedup.hammingNearDupPairs(hashes, "media_id", "dhash", radius = 11)
      val dropped = pairs.groupBy(col("id_b").as("media_id")).agg(min(col("id_a")).as("dup_of"))
      hashes
        .join(dropped, Seq("media_id"), "left_outer")
        .where(col("dup_of").isNull)
        .withColumn("split", TextOps.hashSplit(col("media_id"), "graft", trainFrac = 0.9, valFrac = 0.05))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_imgs"),
          sum(col("width").cast("long") * col("height")).as("sum_px"))
        .orderBy("split")
    },

    // ingestion-time perceptual admission: an arriving image batch
    // screens against the STORED hash index in O(batch + touched
    // buckets). The batch carries all three fates: low-bit perturbed
    // copies of stored images (dup_snapshot), high-bit XORed re-encodes
    // (content re-randomized → new), and low-bit perturbations OF those
    // (their only match is the earlier batch arrival → dup_batch). The
    // oracle brute-forces Hamming over index ∪ batch in closed form and
    // classifies by which side the earlier partner sits on.
    "x_dedup_image_incr" -> { (s, dir) =>
      val media = Multimodal.cachedSyntheticImages(s, docs(s, dir))
      val index = Multimodal.perceptualHashes(media).toDF().select("media_id", "dhash")
      val bCopies = Multimodal.perturbedImageCopies(
        media.filter(col("media_id") % 10 === 0), idOffset = 200000L, rgbXor = 0x010101)
      val bNew = Multimodal.perturbedImageCopies(
        media.filter(col("media_id") % 7 === 3), idOffset = 300000L, rgbXor = 0x808080)
      val bNewDup = Multimodal.perturbedImageCopies(
        media.filter(col("media_id") % 7 === 3), idOffset = 400000L, rgbXor = 0x818181)
      val batch = Multimodal
        .perceptualHashes(bCopies.unionByName(bNew).unionByName(bNewDup)).toDF()
        .select("media_id", "dhash").cache()
      // gated through the STORED-banded-index path (the production
      // per-trigger form): the banded layout is built once — in a real
      // pipeline it is the persisted (blk, key, id, hh) table — and the
      // admission call probes it without re-exploding the raw index
      val banded = Dedup.hammingIndexBanded(index, "media_id", "dhash")
      Dedup.hammingAdmitBanded(banded, batch, "media_id", "dhash", radius = 11)
        .select(col("id").as("media_id"), col("dhash"), col("status"))
        .orderBy("media_id")
    },

    // the STREAMING form of the perceptual admission above: the same
    // (index corpus, three-fate batch) pair arrives as two id-monotone
    // micro-batch chunks, each drained by a CdcStream.hammingAdmitMaintain
    // AvailableNow run against the same persisted banded store +
    // checkpoint — per trigger: sketches probe the store (filtered to
    // prior batches), statuses land in the batch's own output partition,
    // the store appends the batch's banded rows. The batch-1 admissions
    // must equal the one-shot stored-banded admission, so the gate
    // shares x_dedup_image_incr's oracle verbatim.
    "x_dedup_image_stream" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.CdcStream
      val media = Multimodal.cachedSyntheticImages(s, docs(s, dir))
      val index = Multimodal.perceptualHashes(media).toDF().select("media_id", "dhash")
      val bCopies = Multimodal.perturbedImageCopies(
        media.filter(col("media_id") % 10 === 0), idOffset = 200000L, rgbXor = 0x010101)
      val bNew = Multimodal.perturbedImageCopies(
        media.filter(col("media_id") % 7 === 3), idOffset = 300000L, rgbXor = 0x808080)
      val bNewDup = Multimodal.perturbedImageCopies(
        media.filter(col("media_id") % 7 === 3), idOffset = 400000L, rgbXor = 0x818181)
      val batch = Multimodal
        .perceptualHashes(bCopies.unionByName(bNew).unionByName(bNewDup)).toDF()
        .select("media_id", "dhash")
      val base = java.nio.file.Files.createTempDirectory("graft_hamstream").toString
      val in = s"$base/in"
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        // one AvailableNow run, two micro-batches via maxFilesPerTrigger
        // (oldest file first) — half the query start/stop cost
        writeOrderedBatches(index, batch, in)
        val q = CdcStream.hammingAdmitMaintain(
          s.readStream.schema(index.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          s"$base/idx", s"$base/out", s"$base/ckpt",
          "media_id", "dhash", radius = 11, trigger = Trigger.AvailableNow())
        q.awaitTermination()
      }
      s.read.parquet(s"$base/out/ingest_batch=1")
        .select(col("id").as("media_id"), col("dhash"), col("status"))
        .orderBy("media_id")
    },

    // AUDIO near-dup dedup — the temporal twin of x_dedup_image: REAL
    // RIFF/PCM decode → 65-bin Σ|sample| energies → 64 energy-gradient
    // signs (Haitsma-Kalker-style fingerprint, integer-exact) → the same
    // pigeonhole Hamming-banded pair join + keep-first rule. Planted
    // duplicates are REAL byte-level LSB flips of every PCM sample
    // (sub-audible noise). Oracle: closed-form LCG samples + the same
    // integer bin/sign pipeline + brute-force all pairs.
    "x_dedup_audio" -> { (s, dir) =>
      val media = Multimodal.cachedSyntheticAudio(s, docs(s, dir))
      val copies = Multimodal.perturbedAudioCopies(
        media.filter(col("media_id") % 10 === 0), idOffset = 200000L)
      val hashes = Multimodal.audioFingerprints(media.unionByName(copies)).toDF().cache()
      val pairs = Dedup.hammingNearDupPairs(hashes, "media_id", "fp", radius = 11)
      val dropped = pairs.groupBy(col("id_b").as("media_id")).agg(min(col("id_a")).as("dup_of"))
      hashes
        .join(dropped, Seq("media_id"), "left_outer")
        .select(
          col("media_id"), col("fp"),
          when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("kept")).as("status"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy("media_id")
    },

    // ingestion-time AUDIO admission — hammingAdmit is sketch-agnostic,
    // so the x_dedup_image_incr three-fate batch shape runs unchanged
    // over the Haitsma-Kalker energy-gradient fingerprint: LSB-flipped
    // copies of stored clips (dup_snapshot), sign-bit-XORed re-encodes
    // (|s| ↦ 32768−|s| inverts the energy profile → fingerprint
    // re-randomized → new), and LSB flips OF those (their only match is
    // the earlier batch arrival → dup_batch). Gated through the
    // stored-banded-index path; oracle = closed-form LCG samples over
    // index ∪ batch, brute-force pairs classified by side.
    "x_dedup_audio_incr" -> { (s, dir) =>
      val media = Multimodal.cachedSyntheticAudio(s, docs(s, dir))
      val index = Multimodal.audioFingerprints(media).toDF().select("media_id", "fp")
      val bCopies = Multimodal.perturbedAudioCopies(
        media.filter(col("media_id") % 10 === 0), idOffset = 200000L)
      val bNew = Multimodal.perturbedAudioCopies(
        media.filter(col("media_id") % 7 === 3), idOffset = 300000L, sampleXor = 0x8000)
      val bNewDup = Multimodal.perturbedAudioCopies(
        media.filter(col("media_id") % 7 === 3), idOffset = 400000L, sampleXor = 0x8001)
      val batch = Multimodal
        .audioFingerprints(bCopies.unionByName(bNew).unionByName(bNewDup)).toDF()
        .select("media_id", "fp").cache()
      val banded = Dedup.hammingIndexBanded(index, "media_id", "fp")
      Dedup.hammingAdmitBanded(banded, batch, "media_id", "fp", radius = 11)
        .select(col("id").as("media_id"), col("fp"), col("status"))
        .orderBy("media_id")
    },

    // VIDEO near-dup dedup via the keyframe heuristic: frame 0 sliced
    // structurally out of the GRVI container, hashed through the image
    // dHash path, banded + verified exactly like x_dedup_image. Planted
    // duplicates re-encode EVERY frame with XORed pixels (container
    // rebuilt), so detection works on a genuinely retouched re-upload.
    // Oracle: frame-0 pixels in closed form (seed = media_id·131).
    "x_dedup_video" -> { (s, dir) =>
      val media = Multimodal.cachedSyntheticVideo(s, docs(s, dir))
      val copies = Multimodal.perturbedVideoCopies(
        media.filter(col("media_id") % 10 === 0), idOffset = 200000L, rgbXor = 0x010101)
      val hashes = Multimodal.videoKeyframeHashes(media.unionByName(copies)).toDF().cache()
      val pairs = Dedup.hammingNearDupPairs(hashes, "media_id", "dhash", radius = 11)
      val dropped = pairs.groupBy(col("id_b").as("media_id")).agg(min(col("id_a")).as("dup_of"))
      hashes
        .join(dropped, Seq("media_id"), "left_outer")
        .select(
          col("media_id"), col("dhash"), col("ahash"),
          when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("kept")).as("status"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy("media_id")
    },

    // ingestion-time VIDEO admission — the keyframe dHash through the
    // same stored-banded-index path as x_dedup_image_incr: low-bit
    // re-encodes of stored clips (dup_snapshot), high-bit 0x808080
    // re-encodes (luma re-randomized → new), low-bit perturbations of
    // those (dup_batch). Every frame is really re-encoded and the
    // container rebuilt; the oracle re-derives frame 0 in closed form
    // (seed media_id·131) over index ∪ batch.
    "x_dedup_video_incr" -> { (s, dir) =>
      val media = Multimodal.cachedSyntheticVideo(s, docs(s, dir))
      val index = Multimodal.videoKeyframeHashes(media).toDF().select("media_id", "dhash")
      val bCopies = Multimodal.perturbedVideoCopies(
        media.filter(col("media_id") % 10 === 0), idOffset = 200000L, rgbXor = 0x010101)
      val bNew = Multimodal.perturbedVideoCopies(
        media.filter(col("media_id") % 7 === 3), idOffset = 300000L, rgbXor = 0x808080)
      val bNewDup = Multimodal.perturbedVideoCopies(
        media.filter(col("media_id") % 7 === 3), idOffset = 400000L, rgbXor = 0x818181)
      val batch = Multimodal
        .videoKeyframeHashes(bCopies.unionByName(bNew).unionByName(bNewDup)).toDF()
        .select("media_id", "dhash").cache()
      val banded = Dedup.hammingIndexBanded(index, "media_id", "dhash")
      Dedup.hammingAdmitBanded(banded, batch, "media_id", "dhash", radius = 11)
        .select(col("id").as("media_id"), col("dhash"), col("status"))
        .orderBy("media_id")
    },

    // N-FRAME video near-dup dedup — closes the keyframe heuristic's
    // blind spot: first/mid/last frames hashed, a pair is a duplicate
    // iff ANY same-slot pair sits within radius. Planted copies REPLACE
    // frame 0 (heavy 0x808080 XOR — a swapped thumbnail/intro) and keep
    // the body at a low-bit XOR — exactly the re-upload the frame-0
    // hash provably misses; mid/last slots catch it. Single-frame clips
    // (all slots = the replaced frame) stay honest misses, mirrored by
    // the oracle. Oracle: per-slot closed-form pixels (LCG seed
    // media_id·131 + frame_idx), same-slot brute-force pairs.
    "x_dedup_video_frames" -> { (s, dir) =>
      val media = Multimodal.cachedSyntheticVideo(s, docs(s, dir))
      val copies = Multimodal.perturbedVideoCopiesFrame0(
        media.filter(col("media_id") % 10 === 0), idOffset = 200000L,
        frame0Xor = 0x808080, restXor = 0x010101)
      val fh = Multimodal.videoSampledFrameHashes(media.unionByName(copies)).toDF().cache()
      val pairs = Dedup.hammingNearDupPairsAnySlot(fh, "media_id", "slot", "dhash", radius = 11)
      val dropped = pairs.groupBy(col("id_b").as("media_id")).agg(min(col("id_a")).as("dup_of"))
      fh.groupBy("media_id")
        .agg(
          max(when(col("slot") === 0, col("dhash"))).as("first_dhash"),
          max(when(col("slot") === 1, col("dhash"))).as("mid_dhash"),
          max(when(col("slot") === 2, col("dhash"))).as("last_dhash"))
        .join(dropped, Seq("media_id"), "left_outer")
        .select(
          col("media_id"), col("first_dhash"), col("mid_dhash"), col("last_dhash"),
          when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("kept")).as("status"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy("media_id")
    },

    // ingestion-time exact-substring dedup: an arriving document batch
    // probes the stored gram index (presence ⇒ first occurrence already
    // stored ⇒ every arriving occurrence removable) plus its own
    // occurrence table — O(batch) per ingest, never a corpus rescan.
    // The oracle runs the FULL batch pipeline over snapshot ∪ batch and
    // restricts to the batch docs: with monotone ingest ids the
    // admission path must equal it exactly.
    "x_substring_incr" -> { (s, dir) =>
      val d = docs(s, dir)
      val snapshot = d.where(col("doc_id") % 5 =!= 4).select("doc_id", "text")
      val arriving = d.where(col("doc_id") % 5 === 4)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val copies = d.where(col("doc_id") % 10 === 0)
        .select(
          (col("doc_id") + 200000L).as("doc_id"),
          concat(lit("xdupsalt "), col("text")).as("text"))
      val index = Dedup.substringGramIndex(snapshot, "doc_id", "text", k = 10)
      Dedup
        .exactSubstringSpansIncremental(
          index, arriving.unionByName(copies), "doc_id", "text", k = 10)
        .orderBy("doc_id")
    },

    // span application end-to-end: the STRIPPED corpus text a training
    // run actually consumes — x_substring_dedup's spans applied by pure
    // positional array ops (filter + exists, no UDF), survivors re-joined
    // in token order. The oracle re-derives the whole detect→strip
    // pipeline and re-assembles the kept tokens independently.
    "x_substring_strip" -> { (s, dir) =>
      val d = docs(s, dir)
      val copies = d
        .where(col("doc_id") % 10 === 0)
        .select(
          (col("doc_id") + 100000L).as("doc_id"),
          concat(lit("xdupsalt "), col("text")).as("text"))
      val corpus = d.select("doc_id", "text").unionByName(copies)
      val spans = Dedup
        .exactSubstringSpans(corpus, "doc_id", "text", k = 10)
        .select("doc_id", "spans")
      Dedup.stripSpans(corpus, "doc_id", "text", spans).orderBy("doc_id")
    },

    // the streaming INGEST composition of admission + strip as a DRIVER
    // GATE: the same corpus arrives in two doc_id-monotone chunks
    // (originals, then the salted copies), each drained by a separate
    // CdcStream.substringStripMaintain run (AvailableNow) against the
    // same persisted gram index + checkpoint — per trigger: batch grams
    // probe the stored index, spans strip, stripped text appends, index
    // advances. With monotone ids the appended output over both batches
    // equals the ONE-SHOT batch detect→strip pipeline (a later duplicate
    // never flags its earlier first occurrence), so the gate shares
    // x_substring_strip's oracle derivation.
    "x_substring_stream" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.CdcStream
      // one-third corpus: this gate pins the STREAMING composition (two
      // lifecycle runs, persisted index, append sink) — the substring
      // pipeline itself is gated at full scale by x_substring_dedup/
      // strip, so paying the token-linear stage twice more at full width
      // only re-times what those gates already time
      val d = docs(s, dir).where(col("doc_id") % 3 === 0)
      val originals = d.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val copies = d.where(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("xdupsalt "), col("text")).as("text"))
      val base = java.nio.file.Files.createTempDirectory("graft_substr_stream").toString
      val in = s"$base/in"
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        // both files land before ONE AvailableNow run drains them as two
        // micro-batches (maxFilesPerTrigger=1, oldest file first) — the
        // same two-batch incremental lifecycle at HALF the streaming
        // query start/stop cost of the former two-run harness (restart
        // recovery is pinned by x_scd2_stream, not re-paid here)
        writeOrderedBatches(originals, copies, in)
        // hashKey production layout: the persisted index carries 8-byte
        // gram hashes (the operator's scale form); the stripped-text
        // OUTPUT is hash-independent, so the exact-string oracle still
        // applies (ExtSpec pins string/hash span parity)
        val q = CdcStream.substringStripMaintain(
          s.readStream.schema(originals.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          s"$base/gramidx", s"$base/out", s"$base/ckpt",
          k = 10, hashKey = true, trigger = Trigger.AvailableNow())
        q.awaitTermination()
      }
      // explicit projection: the output table is partitioned by
      // ingest_batch (the per-batch idempotent-replay layout), which is
      // lineage metadata, not part of the stripped-corpus contract
      s.read.parquet(s"$base/out")
        .select("doc_id", "n_tokens", "kept_tokens", "stripped_text")
        .orderBy("doc_id")
    },

    // perceptual-hash IMAGE near-dup dedup: REAL PNG decode → integer
    // luma-grid dHash/aHash (9×8 area bins, ITU-601 integer luma) →
    // pigeonhole Hamming-banded pair join (exact within radius 11) →
    // keep-first drop rule. Planted duplicates are REAL pixel-perturbed
    // re-encodes (RGB XOR 0x010101 flips each channel's low bit — luma
    // moves ≤ 1), so detection must survive a genuinely imperceptible
    // edit, not a byte-identical copy. The oracle re-derives the decoded
    // pixels in closed form from the fixture's LCG (the
    // x_multimodal_features idiom) and brute-forces ALL pairs — the
    // banded join must reproduce the exact all-pairs Hamming result.
    "x_dedup_image" -> { (s, dir) =>
      val media = Multimodal.cachedSyntheticImages(s, docs(s, dir))
      val copies = Multimodal.perturbedImageCopies(
        media.filter(col("media_id") % 10 === 0), idOffset = 200000L, rgbXor = 0x010101)
      val hashes = Multimodal.perceptualHashes(media.unionByName(copies)).toDF().cache()
      val pairs = Dedup.hammingNearDupPairs(hashes, "media_id", "dhash", radius = 11)
      val dropped = pairs.groupBy(col("id_b").as("media_id")).agg(min(col("id_a")).as("dup_of"))
      hashes
        .join(dropped, Seq("media_id"), "left_outer")
        .select(
          col("media_id"), col("dhash"), col("ahash"),
          when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("kept")).as("status"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy("media_id")
    },

    // incremental near-dup dedup: admit a new ingest batch (doc_id % 5 = 4)
    // against the already-ingested snapshot's fingerprint index — the
    // O(batch) admission check that replaces re-deduping the corpus
    "x_dedup_incr" -> { (s, dir) =>
      val d = docs(s, dir)
      Dedup.incrementalDedup(
          d.where(col("doc_id") % 5 =!= 4), d.where(col("doc_id") % 5 === 4),
          "doc_id", "text", shingleN = 5)
        .select(col("id").as("doc_id"), col("status"))
        .orderBy("doc_id")
    },

    // repetition quality metrics (Gopher family): duplicate-word fraction
    // and most-common-bigram share, pure map-side array expressions
    "x_rep_quality" -> { (s, dir) =>
      TextOps.repetitionStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // source mixing: rebalance the 20 crawl sources toward target weights
    // (src0-src3 worth 3×, the rest 1×) at maximum volume, with md5
    // Bernoulli decisions re-derivable in the oracle
    "x_mix_sources" -> { (s, dir) =>
      val w = (0 until 20).map(i => s"src$i" -> (if (i < 4) 3.0 else 1.0)).toMap
      TextOps.mixToWeights(docs(s, dir), "doc_id", "source", w, salt = "mix")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    // end-to-end corpus pipeline: quality filter → exact dedup keep-first
    // → deterministic hash split → per-split doc/token accounting — the
    // composition a training-data run executes, as ONE oracle-gated plan
    // (every stage individually gated elsewhere; this entry gates their
    // composition). Filter and split are map-side; dedup is one hash
    // aggregate + join-back on the text key.
    "x_pipeline_e2e" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("n_tokens", TextOps.tokenCount(col("text")).cast("long"))
        .where(col("n_tokens").between(10, 5000))
      val firsts = d.groupBy("text").agg(min(col("doc_id")).as("kept_id"))
      d.join(firsts, Seq("text"))
        .where(col("doc_id") === col("kept_id"))
        .withColumn("split", TextOps.hashSplit(col("doc_id"), "graft", trainFrac = 0.9, valFrac = 0.05))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("split")
    },

    // dedup-pipeline composition: substring-span detection feeding the
    // drop rule + the post-strip token budget + the deterministic split —
    // gates the COMPOSED dataflow (the RefinedWeb-ish recipe: drop docs
    // that are mostly duplicated text, budget the rest by the tokens a
    // span stripper would keep), where every stage is also gated alone.
    "x_pipeline_dedup" -> { (s, dir) =>
      val d = docs(s, dir)
      val copies = d
        .where(col("doc_id") % 10 === 0)
        .select(
          (col("doc_id") + 100000L).as("doc_id"),
          concat(lit("xdupsalt "), col("text")).as("text"))
      val corpus = d.select("doc_id", "text").unionByName(copies)
      Dedup
        .exactSubstringSpans(corpus, "doc_id", "text", k = 10)
        .where(col("dup_tokens") * 2 < col("n_tokens")) // drop mostly-dup docs
        .withColumn("kept_tokens", col("n_tokens") - col("dup_tokens"))
        .withColumn("split", TextOps.hashSplit(col("doc_id"), "graft", trainFrac = 0.9, valFrac = 0.05))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("kept_tokens")).as("sum_kept_tokens"),
          sum(col("dup_tokens")).as("sum_stripped_tokens"))
        .orderBy("split")
    },

    // unigram-frequency scoring: corpus-statistics quality signal (mean
    // corpus token frequency per doc — the integer-exact core of
    // unigram-LM/perplexity filtering)
    "x_unigram_score" -> { (s, dir) =>
      TextOps.unigramScores(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // deterministic hash split: md5(salt:doc_id) hex prefix vs cumulative
    // fraction thresholds — stable under re-ingestion, salt-rotatable,
    // exactly re-derivable in the oracle (same md5 hex in DuckDB)
    "x_split_hash" -> { (s, dir) =>
      docs(s, dir)
        .select(
          col("doc_id"),
          TextOps.hashSplit(col("doc_id"), "graft", trainFrac = 0.9, valFrac = 0.05).as("split"))
        .orderBy("doc_id")
    },

    // deterministic stratified sampling: rebalance the corpus by language —
    // downsample the dominant strata (en to 25%, fr to 50%) and keep the
    // rest whole, with md5-hash Bernoulli decisions so the sample is
    // reproducible, ingestion-order-independent, and exactly re-derivable
    // in the oracle. A pure map-side filter: no shuffle at any scale.
    "x_sample_stratified" -> { (s, dir) =>
      docs(s, dir)
        .where(
          when(col("lang") === "en", TextOps.hashKeep(col("doc_id"), "strat", 0.25))
            .when(col("lang") === "fr", TextOps.hashKeep(col("doc_id"), "strat", 0.5))
            .otherwise(lit(true)))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // URL canonicalization — crawl-frontier dedup keying over a
    // deterministic messy-URL corpus (mixed scheme/host case, default vs
    // explicit vs missing ports, trailing-slash variants, tracking
    // params, unordered params, fragments). Both engines construct the
    // SAME url string from doc_id; canonicalization is independently
    // re-derived in the oracle from the documented rule set (regexes,
    // list filter/sort) — never an engine URL parser.
    "x_url_canonical" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"))
      val id = col("doc_id")
      val scheme0 = when(id % 2 === 0, lit("HTTP")).otherwise(lit("https"))
      val port = when(id % 3 === 0,
          when(id % 2 === 0, lit(":80")).otherwise(lit(":443")))
        .when(id % 3 === 1, lit(":8080"))
        .otherwise(lit(""))
      val path = when(id % 5 === 0, lit(""))
        .when(id % 5 === 1, lit("/a/"))
        .when(id % 5 === 2, lit("/a/b"))
        .when(id % 5 === 3, lit("/a//"))
        .otherwise(lit("/x"))
      val qs = when(id % 4 === 0, lit("?b=2&utm_source=x&a=1"))
        .when(id % 4 === 1, lit("?a=1&b=2"))
        .when(id % 4 === 2, lit("?utm_campaign=z"))
        .otherwise(lit(""))
      val frag = when(id % 2 === 0, lit("#frag")).otherwise(lit(""))
      val url = concat(scheme0, lit("://Ex"), (id % 7).cast("string"), lit(".COM"),
        port, path, qs, frag)
      d.select(col("doc_id"), url.as("url"), TextOps.canonicalUrl(url).as("canon"))
        .orderBy("doc_id")
    },

    // weighted sample without replacement, 20 per source stratum, weight
    // 1 + doc_id % 4 — A-ES in the integer-weight max-uniform form: rank
    // by max of w md5(salt:id:copy) uniforms (no transcendentals, so the
    // whole draw re-derives EXACTLY in DuckDB — the hashSplit
    // portability contract extended to weighted sampling). Both engines
    // rank by the max hex's 13-char prefix desc, id asc.
    "x_sample_weighted" -> { (s, dir) =>
      TextOps
        .weightedSample(docs(s, dir), "doc_id", "source",
          lit(1) + col("doc_id") % 4, n = 20, salt = "ws")
        .orderBy("source", "rank")
    },

    // train/eval decontamination: shingle overlap of every val/test doc
    // against the train split's distinct shingle vocabulary — the leakage
    // check run before trusting an eval set. Composes the deterministic
    // hash split with the native shingler; the oracle re-derives both.
    "x_decontam" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("split", TextOps.hashSplit(col("doc_id"), "graft", trainFrac = 0.9, valFrac = 0.05))
      TextOps.contamination(d, "doc_id", "text", "split", w = 5)
        .select(col("id").as("doc_id"), col("split"), col("n_shingles"), col("n_contaminated"), col("rate"))
        .orderBy("doc_id")
    },

    // the same decontamination through the bloom-prefiltered plan — the
    // 100 TB form: train vocab → one broadcast bloom, eval shingles that
    // fail the probe never enter the confirm join. Output (and oracle) are
    // bit-identical to x_decontam; only the plan differs.
    "x_decontam_bloom" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("split", TextOps.hashSplit(col("doc_id"), "graft", trainFrac = 0.9, valFrac = 0.05))
      TextOps.contaminationBloom(d, "doc_id", "text", "split", w = 5)
        .select(col("id").as("doc_id"), col("split"), col("n_shingles"), col("n_contaminated"), col("rate"))
        .orderBy("doc_id")
    },

    // token-offset shard planning: global running token offsets in doc-id
    // order + fixed-4096-token shard assignment, computed with the
    // distributed two-phase cumsum (range partition → per-partition sums →
    // partition-local stamp), never a single-task global window
    "x_pack_offsets" -> { (s, dir) =>
      TextOps.shardOffsets(docs(s, dir), "doc_id", "text", shardTokens = 4096)
        .orderBy("doc_id")
    },

    // corpus vocabulary: token frequencies, top 50 — explode → partial
    // (map-side) count → global top-k via TakeOrderedAndProject, so the
    // shuffle carries one row per distinct token per partition and the
    // driver sees only k rows. Deterministic tie-break on the token.
    "x_vocab_topk" -> { (s, dir) =>
      docs(s, dir)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50)
    },

    // Timescale time_bucket with an ARBITRARY width and phase origin
    // (90-second buckets anchored 30 s past the epoch) — the form
    // date_trunc cannot express; the oracle is DuckDB's NATIVE
    // time_bucket(INTERVAL, ts, origin), a genuine cross-engine
    // semantics pin (incl. flooring, not truncating, before the origin)
    "x_time_bucket_width" -> { (s, dir) =>
      events(s, dir)
        .where(col("value").isNotNull)
        .groupBy(
          col("event_type"),
          graft.operators.TsAnalytics.timeBucket(col("ts"), 90L, 30L).as("b"))
        .agg(
          count(lit(1)).as("n"),
          sum(floor(col("value") * 10000 + 0.5).cast("long")).as("sum_e4"))
        .select(
          col("event_type"), expr("unix_seconds(b)").as("bucket_s"),
          col("n"), col("sum_e4"))
        .orderBy("event_type", "bucket_s")
    },

    // decomposable distinct-count rollup — the sketch answer to the ONE
    // aggregate x_rollup_hierarchy cannot decompose: count(DISTINCT)
    // does not add across buckets, but Datasketches HLL register states
    // do (slotwise max ⇒ order- AND grouping-independent). Hourly
    // sketches union to daily; the gate pins (a) associativity — the
    // unioned-from-hourly daily estimate EQUALS the directly-built daily
    // estimate — and (b) the accuracy bound vs the exact two-phase
    // distinct, both as booleans the oracle fixes TRUE (the
    // q_approx_distinct idiom), so the gate hash-matches end to end. At
    // 100 TB this is the whole point: the daily distinct-users level
    // re-aggregates ~24 fixed-size sketches per key instead of
    // re-scanning raw events.
    "x_rollup_distinct" -> { (s, dir) =>
      val ev = events(s, dir)
      val hourly = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val merged = hourly
        .groupBy(col("event_type"), date_trunc("day", col("h")).as("d"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_merged"))
      val direct = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("est_direct"))
      val exact = ev
        .groupBy(col("event_type"), col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)))
        .groupBy(col("event_type"), col("d"))
        .agg(count(lit(1)).as("exact_users"))
      exact
        .join(merged, Seq("event_type", "d"))
        .join(direct, Seq("event_type", "d"))
        .select(
          col("event_type"),
          expr("unix_seconds(d)").as("day_s"),
          col("exact_users"),
          (col("est_merged") === col("est_direct")).as("merge_associative"),
          (abs(col("est_merged") - col("exact_users")) <= col("exact_users") * 0.05)
            .as("within_5pct"))
        .orderBy("event_type", "day_s")
    },

    // space-saving heavy hitters over the same token stream — Timescale's
    // freq_agg/topn family as one fixed-k TypedImperativeAggregate.
    // k=64 ≥ the corpus's 31 distinct tokens, so the summary is provably
    // exact (no eviction fires, merges are pure component sums): est =
    // exact count, err = 0 — which is what lets THIS sketch gate carry a
    // full DuckDB oracle while x_vocab_cms stays rows-only. The eviction
    // and merge bounds (no undercount, tracked overcount, n/k-heavy items
    // always present) are spec'd on skewed k < distinct streams in ExtSpec.
    "x_vocab_ss" -> { (s, dir) =>
      docs(s, dir)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(col("tok") =!= "")
        .agg(graft.functions.GraftFunctions.space_saving_agg(col("tok"), 64).as("ss"))
        .select(explode(col("ss")).as("e"))
        .select(col("e.item").as("tok"), col("e.est").as("est"), col("e.err").as("err"))
        .orderBy(col("est").desc, col("tok").asc)
    },

    // exact distribution quantiles per event_type (the data-quality cut a
    // pipeline runs before/after a transform): percentile is exact with
    // linear interpolation — the same definition as the oracle's
    // quantile_cont — plus count as the supporting mass
    "x_quantiles" -> { (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // t-digest sketch twin of x_quantiles. At 100 TB this IS the quantile
    // plan: the sketch is a fixed-size partial aggregate regardless of
    // input size, where exact percentile must shuffle every distinct
    // value. Formerly rows-only (sketch internals have no DuckDB twin);
    // now HASH-gated via the q_approx_distinct idiom — the oracle owns
    // the exact percentiles and row count, and the ExtSpec rank-bracket
    // bound (approx within the exact p±2%-rank quantiles) rides as
    // booleans the oracle fixes TRUE.
    "x_quantiles_sketch" -> { (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(
          expr("approx_percentile(value, array(0.5, 0.95), 10000)").as("ps"),
          expr("percentile(value, array(0.48, 0.52, 0.93, 0.97, 0.5, 0.95))").as("ex"),
          count(lit(1)).as("n"))
        .select(
          col("event_type"),
          round(col("ex").getItem(4), 4).as("p50_exact"),
          round(col("ex").getItem(5), 4).as("p95_exact"),
          col("n"),
          (col("ps").getItem(0) >= col("ex").getItem(0) &&
            col("ps").getItem(0) <= col("ex").getItem(1)).as("p50_in_bracket"),
          (col("ps").getItem(1) >= col("ex").getItem(2) &&
            col("ps").getItem(1) <= col("ex").getItem(3)).as("p95_in_bracket"))
        .orderBy("event_type")
    },

    // embedding-cosine near-dup pairs (brute-force verify path)
    "x_dedup_embedding" -> { (s, dir) =>
      GraftFunctions.register(s)
      Dedup
        .embeddingNearDupPairs(embs(s, dir), "vec_id", "embedding", threshold = 0.45)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },

    // embedding near-dup, SRP-block-LSH scale path: the synthetic
    // embeddings carry no true near-dup structure (max original-pair cos
    // ≈ 0.60), so the gate augments the corpus with deterministic
    // perturbed copies (every 5th vector, first component ×1.05 → cos vs
    // its source ≥ 0.9997) that the DuckDB oracle reproduces exactly.
    // At threshold 0.9 the qualifying set is far from any float boundary
    // on both sides (copies ≥ 0.9997, everything else ≤ ~0.65), and copy
    // pairs sit at signature Hamming ~0 — deep inside the pigeonhole
    // radius — so the LSH candidates provably contain every qualifying
    // pair and the exact-verified output is hash-independent.
    "x_dedup_embedding_lsh" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir)
      val copies = e
        .where(col("vec_id") % 5 === 0)
        .select(
          (col("vec_id") + 1000000L).as("vec_id"),
          concat(
            array(element_at(col("embedding"), 1) * lit(1.05f)),
            // length-agnostic tail (mirrors the oracle's open-ended
            // embedding[2:]) — a hardcoded 63 would silently truncate
            // any non-64-dim corpus
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      val corpus = e.select("vec_id", "embedding").unionByName(copies)
      Dedup
        .embeddingNearDupPairsLsh(corpus, "vec_id", "embedding", threshold = 0.9)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },

    // SemDeDup cluster-then-prune over the same planted-copy corpus: the
    // oracle replicates the deterministic nearest-seed cells and the
    // keep-lowest-id prune wholesale, so the gate hash-pins the full
    // per-vector disposition (id, cell, kept) — including the paper's
    // known recall trade when a true pair straddles two cells.
    "x_semantic_dedup" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir)
      val copies = e
        .where(col("vec_id") % 5 === 0)
        .select(
          (col("vec_id") + 1000000L).as("vec_id"),
          concat(
            array(element_at(col("embedding"), 1) * lit(1.05f)),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      val corpus = e.select("vec_id", "embedding").unionByName(copies)
      Dedup
        .semanticDedup(corpus, "vec_id", "embedding", numClusters = 64, threshold = 0.9)
        .select(col("id").as("vec_id"), col("cluster"), col("kept"))
        .orderBy("vec_id")
    },

    // embedding-space eval DECONTAMINATION — the semantic twin of
    // x_decontam's n-gram screen: eval vectors probe the train split's
    // semantic index; contaminated iff a same-cell train vector reaches
    // cos ≥ 0.9. Planted leaks are ×1.05-perturbed copies of train
    // vectors pushed into the eval side (the paraphrase-leak shape a
    // text screen misses). The oracle re-derives the md5 split, the
    // train-seed assignment of BOTH sides, and the cross-side cell
    // probe.
    "x_decontam_semantic" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir).select("vec_id", "embedding")
      val split = TextOps.hashSplit(col("vec_id"), "graft", trainFrac = 0.9, valFrac = 0.05)
      val train = e.where(split === "train")
      val leaks = train
        .where(col("vec_id") % 7 === 0)
        .select(
          (col("vec_id") + 1000000L).as("vec_id"),
          concat(
            array(element_at(col("embedding"), 1) * lit(1.05f)),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      val evalSide = e.where(split =!= "train").unionByName(leaks)
      // stored-seed path, same rationale as x_semantic_incr: the screen
      // recurs per eval release, so seeds live beside the index
      val idx = Dedup.semanticIndex(train, "vec_id", "embedding", 64)
      val seeds = Dedup.semanticSeeds(train, "vec_id", "embedding", 64)
      Dedup
        .semanticContamination(idx, seeds, evalSide, "vec_id", "embedding", 0.9)
        .select(col("id").as("vec_id"), col("cluster"), col("contaminated"))
        .orderBy("vec_id")
    },

    // streaming/ingestion-time SemDeDup ADMISSION: a new ingest batch
    // screens against the stored semantic index in O(batch + touched
    // cells) — no corpus rescan. Batch carries all three fates:
    // ×1.05-perturbed copies of stored vectors (dup_snapshot), negated
    // vectors (semantically novel — background cos ≤ ~0.65 flips sign,
    // so nothing stored comes near 0.9 → new), and perturbed copies of
    // those negated vectors (their only match is the earlier batch row →
    // dup_batch). The oracle runs full SemDeDup over index ∪ batch and
    // classifies from the same pair sets — the admission path must equal
    // the from-scratch result (the equivalence ExtSpec also pins).
    "x_semantic_incr" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir)
      val copies = e
        .where(col("vec_id") % 5 === 0)
        .select(
          (col("vec_id") + 1000000L).as("vec_id"),
          concat(
            array(element_at(col("embedding"), 1) * lit(1.05f)),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      val negs = e
        .where(col("vec_id") % 7 === 3)
        .select(
          (col("vec_id") + 3000000L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      val negCopies = e
        .where(col("vec_id") % 7 === 3)
        .select(
          (col("vec_id") + 4000000L).as("vec_id"),
          concat(
            array(element_at(col("embedding"), 1) * lit(-1.05f)),
            transform(slice(col("embedding"), lit(2), size(col("embedding")) - 1), x => -x))
            .as("embedding"))
      val batch = copies.unionByName(negs).unionByName(negCopies)
      // gated through the STORED-seed path (the production per-trigger
      // form): seeds are fixed at index build, persisted beside the
      // index, and handed to admission — no per-call TakeOrdered over
      // the stored index to re-derive them
      val corpus = e.select("vec_id", "embedding")
      val index = Dedup.semanticIndex(corpus, "vec_id", "embedding", 64)
      val seeds = Dedup.semanticSeeds(corpus, "vec_id", "embedding", 64)
      Dedup
        .semanticAdmit(index, seeds, batch, "vec_id", "embedding", threshold = 0.9)
        .select(col("id").as("vec_id"), col("cluster"), col("status"))
        .orderBy("vec_id")
    },

    // exact brute-force cosine top-k (the ANN baseline)
    "x_sim_bruteforce_topk" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir)
      Similarity
        .bruteForceTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("n_id"), col("rank"))
        .orderBy("q_id", "rank")
    },

    // SRP-LSH bucketed ANN (scale path), full-gated via a planted
    // CLUSTER: each query vector (vec_id < 10, first component ×0.995)
    // gets five corpus copies at ×1.01…×1.05, so its true top-5 is
    // {source, ×1.01…×1.04} with cos ≥ 0.999 against a ≤ ~0.65 corpus
    // background — every true neighbor sits at signature Hamming ≤ 1 of
    // the query (deep inside the 1-bit multiprobe radius), the candidate
    // stage provably surfaces them, and the exact cosine rescore then
    // reproduces the brute-force ranking bit-for-bit. The oracle
    // brute-forces the SAME augmented corpus in exact double math, so the
    // gate hash-pins the retrieved ids + ranks end-to-end (formerly
    // rows-only). Generic top-k recall on the un-augmented corpus is NOT
    // a meaningful gate for single-table SRP at 8 planes (measured ~0.02:
    // 5000 vectors with no near-dup structure spread over 256 buckets) —
    // retrieval quality where structure EXISTS is what LSH promises.
    "x_sim_lsh_topk" -> { (s, dir) =>
      GraftFunctions.register(s)
      val (corpus, _, queries) = annClusterCorpus(embs(s, dir))
      Similarity
        .lshTopK(corpus, queries, "vec_id", "embedding", k = 5,
          numPlanes = 8, multiProbeBits = 1)
        .select(col("q_id"), col("n_id"), col("rank"))
        .orderBy("q_id", "rank")
    },

    // IVF centroid-probed ANN (scale path), full-gated with the same
    // planted-cluster scheme as x_sim_lsh_topk. The index still comes
    // from cachedIvfIndex over the RAW corpus (the bench pre-builds it in
    // untimed warmup, partitioned by centroid_id); the cluster copies
    // enter through ivfAssign — the incremental-insert path a real IVF
    // uses between retrains — which lands each copy in its source's cell
    // (same squared-euclidean metric as KMeans assignment), so the
    // query's nProbe=4 cosine probe provably covers its whole cluster.
    "x_sim_ivf_topk" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir)
      val (_, copies, queries) = annClusterCorpus(e)
      val (indexed, centroids) = Similarity.cachedIvfIndex(e, "vec_id", "embedding", nCentroids = 16)
      val augmented = indexed.unionByName(
        Similarity.ivfAssign(centroids, copies, "vec_id", "embedding"))
      Similarity
        .ivfTopK(augmented, centroids, queries, "vec_id", "embedding", k = 5, nProbe = 4)
        .select(col("q_id"), col("n_id"), col("rank"))
        .orderBy("q_id", "rank")
    },

    // planted-neighbor oracle gates for the ANN scale paths (the same
    // injected-copy technique as x_dedup_embedding_lsh): every 20th
    // corpus vector, perturbed first component ×1.05 → cos vs its source
    // ≥ 0.9997 while the rest of the corpus sits ≤ ~0.65, so the exact
    // re-score MUST rank the source first whenever the candidate stage
    // surfaces it — the gate pins retrieval end-to-end with a trivially
    // SQL-expressible answer (q_id ↦ source id). Candidate coverage is
    // corpus-pinned, not structural (whole-signature + 1-bit multiprobe
    // for LSH, nProbe=4 of 16 centroids for IVF): verified green at
    // sf0.01 AND sf0.1, and any fixture change that breaks coverage
    // fails loudly as a missing row, never silently.
    "x_sim_lsh_planted" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir)
      val queries = e.where(col("vec_id") % 20 === 0).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1) * lit(1.05f)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      Similarity
        .lshTopK(e, queries, "vec_id", "embedding", k = 1,
          numPlanes = 8, multiProbeBits = 1)
        .select(col("q_id"), col("n_id"))
        .orderBy("q_id")
    },

    "x_sim_ivf_planted" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir)
      val (indexed, centroids) = Similarity.cachedIvfIndex(e, "vec_id", "embedding", nCentroids = 16)
      val queries = e.where(col("vec_id") % 20 === 0).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1) * lit(1.05f)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      Similarity
        .ivfTopK(indexed, centroids, queries, "vec_id", "embedding", k = 1, nProbe = 4)
        .select(col("q_id"), col("n_id"))
        .orderBy("q_id")
    },

    // the PQ (product-quantization) ANN path — the COMPRESSED-memory
    // complement to LSH (bucket pruning) and IVF (partition pruning):
    // 64-dim float32 → 4 codes (m=4 subspaces × 16-entry codebooks), a
    // 64× smaller corpus representation scanned via ADC table lookups
    // with no vector arithmetic, exact re-rank of the top candidates.
    // Same planted-copy pinning as the LSH/IVF gates: the perturbed
    // query's source must surface in the ADC candidate set (its ADC
    // distance is the source's own quantization distortion — near the
    // scan's minimum by construction, vs a ≤ ~0.65-cosine background)
    // and the exact re-score must rank it first. Candidate coverage is
    // corpus-pinned (candidates=16), verified green at sf0.01 AND sf0.1;
    // a fixture change that breaks coverage fails as a missing row.
    "x_sim_pq_planted" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir)
      val cb = Similarity.cachedPqCodebooks(e, "vec_id", "embedding", m = 4, ksub = 16)
      val codes = Similarity.pqEncode(e, cb, "vec_id", "embedding", m = 4, ksub = 16)
      val queries = e.where(col("vec_id") % 20 === 0).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1) * lit(1.05f)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      Similarity
        .pqTopK(codes, cb, e, queries, "vec_id", "embedding",
          k = 1, m = 4, ksub = 16, candidates = 16)
        .select(col("q_id"), col("n_id"))
        .orderBy("q_id")
    },

    // IVF-PQ — the composed index (IVFADC): coarse cells prune the
    // corpus to nProbe=4 of 16, PQ codes are ADC-scanned within the
    // probed cells only, exact re-rank decides. Both prunings are the
    // ones the standalone gates pin (x_sim_ivf_planted's cell coverage,
    // x_sim_pq_planted's ADC coverage); the composition must still
    // return the identity mapping — a cell miss OR a candidate miss
    // fails loudly as a missing row. The gate runs the STORED layout
    // end-to-end: codes are materialized partitionBy(centroid_id)
    // (materializeIvfPqIndex) and the probe reads only the probed
    // cells' partitions (ivfPqTopKStored — the serving path; PlanSpec
    // asserts the partition pruning).
    "x_sim_ivfpq_planted" -> { (s, dir) =>
      GraftFunctions.register(s)
      val e = embs(s, dir)
      val (indexed, centroids) = Similarity.cachedIvfIndex(e, "vec_id", "embedding", nCentroids = 16)
      val cb = Similarity.cachedPqCodebooks(e, "vec_id", "embedding", m = 4, ksub = 16)
      val codes = Similarity.pqEncode(e, cb, "vec_id", "embedding", m = 4, ksub = 16)
      val store = java.nio.file.Files.createTempDirectory("graft_ivfpq_store").toString
      Similarity.materializeIvfPqIndex(indexed, codes, s"$store/codes")
      val queries = e.where(col("vec_id") % 20 === 0).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1) * lit(1.05f)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      Similarity
        .ivfPqTopKStored(s, s"$store/codes", indexed, centroids, cb, queries,
          "vec_id", "embedding", k = 1, nProbe = 4, m = 4, ksub = 16, candidates = 16)
        .select(col("q_id"), col("n_id"))
        .orderBy("q_id")
    },

    // measured recall@10 vs exact brute force over the ORGANIC embedding
    // distribution (no planted copies — the planted gates prove identity
    // recovery; this one converts "approximation can reorder, never
    // fabricate" into a measured QUALITY contract): each ANN family runs
    // at 2-3 operating points and its recall must clear a pinned floor.
    // The floors are calibrated ≥5pts under the measured sf0.01/sf0.1
    // values, so a geometry/banding regression trips the boolean while
    // fixture noise does not. Queries are corpus members re-keyed (+1e6,
    // unperturbed), so every method sees the same rank-1 twin and the
    // floor measures the k=10 tail, not the trivial self-hit.
    "x_sim_recall_curve" -> { (s, dir) =>
      GraftFunctions.register(s)
      // clustered mixture: each vector pulled 65% toward its (vec_id mod
      // 64) representative — the synthetic organic embeddings are
      // near-uniform, where NO ANN geometry can reach realistic recall
      // (nearest neighbors are diffuse), so the floors were honest but
      // low (11-66%). Real embedding corpora are clustered; the planted
      // mixture restores that structure deterministically, separating
      // the families at meaningful recall levels while keeping queries
      // organic (corpus members re-keyed, k=10 tail measured). The
      // derived corpus must NOT go through the file-fingerprinted
      // index caches (same source files as the RAW corpus → a raw-built
      // cache would be served silently) — indexes build inline.
      val eRaw = embs(s, dir)
      val reps = eRaw.where(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("embedding").as("rep"))
      val e = eRaw.withColumn("cid", col("vec_id") % 64)
        .join(broadcast(reps), Seq("cid"))
        .select(col("vec_id"),
          zip_with(col("embedding"), col("rep"),
            (x, r) => x * lit(0.35f) + r * lit(0.65f)).as("embedding"))
        .cache()
      val k = 10
      val queries = e.where(col("vec_id") % 25 === 7).select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k)
        .select("q_id", "n_id").cache()
      val total = exact.count().toDouble
      // cache the assigned index once — four of the eight operating
      // points scan it, and without the cache each re-runs the KMeans
      // model transform over the corpus
      val (indexed0, centroids) =
        Similarity.ivfIndex(e, "vec_id", "embedding", nCentroids = 16)
      val indexed = indexed0.cache()
      val cb = Similarity.pqCodebooks(e, "vec_id", "embedding", m = 4, ksub = 16)
      // cache the encode once — three of the eight operating points scan
      // the codes table, and without the cache each re-runs the encode
      val codes = Similarity.pqEncode(e, cb, "vec_id", "embedding", m = 4, ksub = 16)
        .cache()
      def recall(approx: org.apache.spark.sql.DataFrame): Double =
        approx.select("q_id", "n_id")
          .join(exact, Seq("q_id", "n_id"), "left_semi").count() / total
      def lsh(mp: Int) = Similarity
        .lshTopK(e, queries, "vec_id", "embedding", k, numPlanes = 8, multiProbeBits = mp)
      def ivf(np: Int) = Similarity
        .ivfTopK(indexed, centroids, queries, "vec_id", "embedding", k, nProbe = np)
      def pq(cand: Int) = Similarity
        .pqTopK(codes, cb, e, queries, "vec_id", "embedding",
          k, m = 4, ksub = 16, candidates = cand)
      def ivfpq(np: Int, cand: Int) = Similarity
        .ivfPqTopK(indexed, centroids, codes, cb, queries, "vec_id", "embedding",
          k, nProbe = np, m = 4, ksub = 16, candidates = cand)
      // floors: ≥5pts under the measured min across sf0.01
      // (85/89/92, 88, 23/50, 86/94) and sf0.1 (98/100/100, 100, 27/59,
      // 57/100) on the clustered mixture — the cell/bucket families now
      // clear ≥80% floors (the realistic regime); LSH at 8 planes is
      // structurally limited on 64 dims and carries its honest 15/40
      // floors plus the family-monotone boolean
      // materialize the shared cached inputs BEFORE the operating points
      // fan out, then evaluate all eight points CONCURRENTLY: each point
      // is one independent probe+recall count over the cached corpus /
      // index / codes, and running them sequentially leaves the cluster
      // idle through eight job tails (guide: overlap independent jobs).
      // Values and output order are unchanged — the points are awaited
      // into the same fixed point list.
      indexed.count()
      codes.count()
      // every point settles before the shared caches are unpersisted
      // ([[graft.Overlap.all]]): a fail-fast await would drop them out
      // from under the points still running, forcing full lineage
      // recomputation on threads nothing joins
      val points: Seq[(String, Int, Double)] = try Overlap.all(Seq(
        ("ivf_np1", 80, () => recall(ivf(1))),
        ("ivf_np2", 84, () => recall(ivf(2))),
        ("ivf_np4", 87, () => recall(ivf(4))),
        ("ivfpq_np4_c32", 80, () => recall(ivfpq(4, 32))),
        ("lsh_p8_mp0", 15, () => recall(lsh(0))),
        ("lsh_p8_mp1", 40, () => recall(lsh(1))),
        ("pq_c16", 45, () => recall(pq(16))),
        ("pq_c64", 85, () => recall(pq(64)))
      ).map { case (mth, floor, f) => () => (mth, floor, f()) })
      finally {
        exact.unpersist()
        codes.unpersist()
        indexed.unpersist()
        e.unpersist()
      }
      val byName = points.map(p => p._1 -> p._3).toMap
      val prevInFamily = Map(
        "ivf_np2" -> "ivf_np1", "ivf_np4" -> "ivf_np2",
        "lsh_p8_mp1" -> "lsh_p8_mp0", "pq_c64" -> "pq_c16",
        // IVFADC's candidates dominate PQ's at the same budget only
        // within probed cells — no cross-family edge; ivfpq anchors on
        // its floor alone
        "ivfpq_np4_c32" -> "ivfpq_np4_c32")
      import s.implicits._
      points
        .map { case (mth, floor, r) =>
          val mono = byName(prevInFamily.getOrElse(mth, mth)) <= r
          (mth, floor, r >= floor / 100.0, mono) }
        .toDF("method", "floor_e2", "ok", "mono_ok")
        .orderBy("method")
    },

    // BM25 lexical retrieval — the keyword complement to the embedding
    // ANN gates (decontamination and curation lookups are keyword
    // searches before they are embedding searches). Each queried doc
    // carries one planted RARE tail token (df=1 → idf ≈ ln(N/1.5),
    // ~1000× any common term's idf on this lexicon), so the top-1
    // identity is decided by a margin far beyond any ln() last-ulp
    // engine difference; the hashed columns are the top-1 doc identity
    // plus EXACT integers (matched tf sum, matched distinct terms) —
    // the e6-quantized score itself stays engine-internal (per-term
    // scores are integer-summed, so ranking is order-free; see
    // TextOps.bm25TopK).
    "x_text_bm25" -> { (s, dir) =>
      val d = docs(s, dir)
      val corpus = d.select(
        col("doc_id"),
        when(col("doc_id") % 50 === 7, concat(col("text"), lit(" zzq"), col("doc_id")))
          .otherwise(col("text")).as("text"))
      val queries = d.where(col("doc_id") % 50 === 7)
        .select(
          col("doc_id").as("q_id"),
          concat(lit("zzq"), col("doc_id"), lit(" "),
            array_join(slice(split(trim(col("text")), "\\s+"), 1, 4), " ")).as("qtext"))
      // end-to-end through the STORED inverted index: postings + dict
      // materialized partitionBy(term-hash bucket) once, the probe reads
      // only the query terms' buckets (PlanSpec asserts the pruning)
      val store = java.nio.file.Files.createTempDirectory("graft_bm25_store").toString
      TextOps.materializeBm25Index(corpus, "doc_id", "text", store)
      TextOps.bm25TopKStored(s, store, queries, "q_id", "qtext", k = 1)
        .select(col("q_id"), col("doc_id"), col("tf_sum"), col("n_terms"))
        .orderBy("q_id")
    },

    // BM25 block-max early termination under a workload where it GENUINELY
    // prunes and iterates: every 3rd doc plants two mid-df term families
    // with CONTROLLED tf gradients (za<v> ×(1..4), zb<v> ×(1..3) — df ≈
    // N/48 and N/21, idf ≈ ln 45/ln 20, so adjacent tf levels sit ≥ ~10⁵
    // e6-units apart and rank order is ln-ulp-proof; the e6 score itself
    // stays engine-internal, the x_text_bm25 discipline), blockSize=4
    // cuts each family into many impact blocks, and k=10 exceeds the
    // first block's yield — the certified loop must escalate across
    // rounds and COMPLETE partially-seen docs (a doc can match both query
    // terms through blocks of different impact ranks). The oracle is the
    // same blind full-scan BM25 re-derivation in DuckDB: hash-equality IS
    // the exactness proof of the early-terminated probe.
    "x_bm25_blockmax" -> { (s, dir) =>
      val d = docs(s, dir)
      val corpus = d.select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            expr("repeat(concat(' za', cast(doc_id % 16 as string)), cast(doc_id % 4 + 1 as int))"),
            expr("repeat(concat(' zb', cast(doc_id % 7 as string)), cast(doc_id % 3 + 1 as int))")))
          .otherwise(col("text")).as("text"))
      val queries = d.where(col("doc_id") % 97 === 1)
        .select(
          col("doc_id").as("q_id"),
          concat(lit("za"), (col("doc_id") % 16).cast("string"),
            lit(" zb"), (col("doc_id") % 7).cast("string")).as("qtext"))
      val store = java.nio.file.Files.createTempDirectory("graft_bm25_bm").toString
      TextOps.materializeBm25Index(corpus, "doc_id", "text", store,
        numBuckets = 8, blockSize = 4)
      TextOps.bm25TopKStored(s, store, queries, "q_id", "qtext", k = 10)
        .select(col("q_id"), col("doc_id"), col("rank"), col("tf_sum"), col("n_terms"))
        .orderBy("q_id", "rank")
    },

    // the COMPACTION-ARMED form of the block-max path (round 15): the
    // same planted-gradient corpus arrives as two streamed
    // bm25IndexApplyBatch partials (unblocked postings — full-scan
    // probes), then compactBm25Index folds them AND assigns impact
    // blocks + emits the blockmax sidecar + arms the marker in the same
    // pass; the probe below runs the certified early-termination loop
    // over the streamed-then-compacted artifact. The oracle is the SAME
    // blind full-scan BM25 re-derivation — blind to batching, blocks
    // and the certificate — so hash-equality proves the maintenance
    // path's early termination exact, not just the one-shot build's.
    "x_bm25_compact_blockmax" -> { (s, dir) =>
      import graft.streaming.CdcStream
      val d = docs(s, dir)
      val corpus = d.select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            expr("repeat(concat(' za', cast(doc_id % 16 as string)), cast(doc_id % 4 + 1 as int))"),
            expr("repeat(concat(' zb', cast(doc_id % 7 as string)), cast(doc_id % 3 + 1 as int))")))
          .otherwise(col("text")).as("text"))
      val queries = d.where(col("doc_id") % 97 === 1)
        .select(
          col("doc_id").as("q_id"),
          concat(lit("za"), (col("doc_id") % 16).cast("string"),
            lit(" zb"), (col("doc_id") % 7).cast("string")).as("qtext"))
      val store = java.nio.file.Files.createTempDirectory("graft_bm25_cbm").toString
      CdcStream.bm25IndexApplyBatch(
        corpus.where(col("doc_id") % 2 === 0), 0L, store, "doc_id", "text", numBuckets = 8)
      CdcStream.bm25IndexApplyBatch(
        corpus.where(col("doc_id") % 2 === 1), 1L, store, "doc_id", "text", numBuckets = 8)
      CdcStream.compactBm25Index(s, store, upToBatch = 1L, blockSize = 4)
      TextOps.bm25TopKStored(s, store, queries, "q_id", "qtext", k = 10)
        .select(col("q_id"), col("doc_id"), col("rank"), col("tf_sum"), col("n_terms"))
        .orderBy("q_id", "rank")
    },

    // the STREAMING BM25 index maintainer as a DRIVER GATE: a one-third
    // corpus (this gate pins the streaming lifecycle — the retrieval
    // math itself is gated at full width by x_text_bm25) arrives in two
    // chunks, each drained by a separate CdcStream.bm25IndexMaintain run
    // (AvailableNow) against the same persisted index + checkpoint; the
    // probe then merges the per-batch postings/df/stats partials. The
    // merged index is a set union of partials, so the probe result is
    // EXACTLY the one-shot build's — the oracle re-derives BM25 over the
    // same filtered corpus in DuckDB, blind to the batching.
    "x_bm25_stream" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.CdcStream
      val d = docs(s, dir).where(col("doc_id") % 3 === 0)
      val corpus = d.select(
        col("doc_id"),
        when(col("doc_id") % 50 === 7, concat(col("text"), lit(" zzq"), col("doc_id")))
          .otherwise(col("text")).as("text"))
      val queries = d.where(col("doc_id") % 50 === 7)
        .select(
          col("doc_id").as("q_id"),
          concat(lit("zzq"), col("doc_id"), lit(" "),
            array_join(slice(split(trim(col("text")), "\\s+"), 1, 4), " ")).as("qtext"))
      val base = java.nio.file.Files.createTempDirectory("graft_bm25_stream").toString
      val in = s"$base/in"
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        // one AvailableNow run, two micro-batches via maxFilesPerTrigger
        // (oldest file first) — half the query start/stop cost
        writeOrderedBatches(
          corpus.where(col("doc_id") % 2 === 0),
          corpus.where(col("doc_id") % 2 === 1), in)
        val q = CdcStream.bm25IndexMaintain(
          s.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          s"$base/idx", s"$base/ckpt", "doc_id", "text",
          numBuckets = 16, trigger = Trigger.AvailableNow())
        q.awaitTermination()
      }
      TextOps.bm25TopKStored(s, s"$base/idx", queries, "q_id", "qtext", k = 1)
        .select(col("q_id"), col("doc_id"), col("tf_sum"), col("n_terms"))
        .orderBy("q_id")
    },

    // paragraph-granular boilerplate removal (the CCNet/web-crawl
    // cleaning step): the fixture's single-line docs are recut into two
    // organic paragraphs, every even doc gains a planted subscribe
    // footer and every 7th a doc-unique notice — the footer (and the
    // empty second paragraph of short docs) clears the minDocs=5
    // frequency bar and is stripped everywhere, the unique notice and
    // the organic paragraphs survive. Exact integer counts + verbatim
    // reassembled text are hashed; the oracle re-derives the whole
    // pipeline (corpus recut included) in DuckDB.
    "x_boilerplate_strip" -> { (s, dir) =>
      val d = docs(s, dir)
      val ws = split(trim(col("text")), "\\s+")
      val corpus = d.select(
        col("doc_id"),
        concat_ws("\n",
          array_join(slice(ws, 1, 12), " "),
          array_join(slice(ws, 13, 100000), " "),
          when(col("doc_id") % 2 === 0, lit("subscribe to our newsletter")),
          when(col("doc_id") % 7 === 0, concat(lit("unique notice "), col("doc_id")))
        ).as("text"))
      TextOps.boilerplateStrip(corpus, "doc_id", "text", minDocs = 5)
        .orderBy("doc_id")
    },

    // the STREAMING boilerplate maintainer as a DRIVER GATE: the same
    // recut corpus as x_boilerplate_strip arrives in two batches (even
    // doc_ids, then odd), each drained by a separate
    // CdcStream.boilerplateMaintain run against the same persisted
    // count store. Admission semantics, pinned in closed form: a batch-0
    // paragraph strips iff its EVEN-doc frequency clears minDocs; a
    // batch-1 paragraph iff its FULL-corpus frequency does (prior
    // partial + own batch). The planted footer lives only on even docs,
    // so it crosses in batch 0 and is stripped everywhere — while
    // paragraphs that only cross with batch 1's arrivals keep their
    // batch-0 occurrences (the straggler contract the batch operator
    // re-cleans).
    "x_boilerplate_stream" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.CdcStream
      val d = docs(s, dir)
      val ws = split(trim(col("text")), "\\s+")
      val corpus = d.select(
        col("doc_id"),
        concat_ws("\n",
          array_join(slice(ws, 1, 12), " "),
          array_join(slice(ws, 13, 100000), " "),
          when(col("doc_id") % 2 === 0, lit("subscribe to our newsletter")),
          when(col("doc_id") % 7 === 0, concat(lit("unique notice "), col("doc_id")))
        ).as("text"))
      val base = java.nio.file.Files.createTempDirectory("graft_bp_stream").toString
      val in = s"$base/in"
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        // one AvailableNow run, two micro-batches via maxFilesPerTrigger
        // (oldest file first) — half the query start/stop cost
        writeOrderedBatches(
          corpus.where(col("doc_id") % 2 === 0),
          corpus.where(col("doc_id") % 2 === 1), in)
        val q = CdcStream.boilerplateMaintain(
          s.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          s"$base/counts", s"$base/out", s"$base/ckpt", "doc_id", "text",
          minDocs = 5, numBuckets = 16, trigger = Trigger.AvailableNow())
        q.awaitTermination()
      }
      s.read.parquet(s"$base/out")
        .select("doc_id", "n_paras", "kept_paras", "stripped_text")
        .orderBy("doc_id")
    },

    // supervised quality-classifier scoring (the fastText-classifier
    // role in the GPT-3/LLaMA pipelines), integer-exact: positives =
    // doc_id%4==1 slice, negatives = doc_id%4==3 slice, every document
    // scored by its summed e6-quantized Laplace NB posterior in pure
    // long arithmetic — the oracle re-derives model counts and the
    // div-rounding bit-for-bit in DuckDB.
    "x_text_nb_score" -> { (s, dir) =>
      val d = docs(s, dir)
      TextOps.nbQualityScore(
        d, "doc_id", "text",
        positives = d.where(col("doc_id") % 4 === 1),
        negatives = d.where(col("doc_id") % 4 === 3))
        .orderBy("doc_id")
    },

    // corpus-bigram LM quality scoring (the CCNet signal, integer-exact):
    // the model is the bigram count table of an md5-selected 25%
    // reference slice; each document's next-token probabilities are e6
    // rationals computed in pure long arithmetic (no float, no ln), so
    // sums hash identically on any engine. Unseen context / unseen
    // continuation score 0 (harshest backoff — documented).
    "x_text_lm_score" -> { (s, dir) =>
      TextOps.bigramLmScore(docs(s, dir), "doc_id", "text").orderBy("doc_id")
    },

    // token counting: whitespace + BPE-ish regex pre-tokenizer
    "x_text_tokens" -> { (s, dir) =>
      docs(s, dir)
        .select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_ws_tokens"),
          TextOps.bpeishTokenCount(col("text")).as("n_bpeish_tokens"),
          length(col("text")).as("n_chars_calc")
        )
        .orderBy("doc_id")
    },

    // quality scoring components + composite
    "x_text_quality" -> { (s, dir) =>
      GraftFunctions.register(s)
      val d = docs(s, dir)
      d.select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.stopwordCount(col("text")).as("n_stop"),
        TextOps.qualityScore(col("text")).as("quality")
      ).orderBy("doc_id")
    },

    // percentile-threshold quality binning: bin edges from one tiny exact
    // percentile aggregate, binning as a map-side literal fold — never a
    // global ntile window (single-task corpus sort)
    "x_quality_bins" -> { (s, dir) =>
      GraftFunctions.register(s)
      TextOps.qualityBins(docs(s, dir), "doc_id", "text", nBins = 10)
        .select(col("id").as("doc_id"), col("quality"), col("bin"))
        .orderBy("doc_id")
    },

    // canonical normalization (the exact-dedup key transform)
    "x_text_normalize" -> { (s, dir) =>
      docs(s, dir)
        .select(
          col("doc_id"),
          TextOps.normalize(col("text")).as("norm"),
          length(TextOps.normalize(col("text"))).as("norm_len")
        )
        .orderBy("doc_id")
    },

    // language identification vs the labeled lang column
    "x_text_langid" -> { (s, dir) =>
      GraftFunctions.register(s)
      docs(s, dir)
        .select(
          col("doc_id"),
          col("lang"),
          TextOps.langId(col("text")).as("lang_pred")
        )
        .orderBy("doc_id")
    },

    // document fingerprinting (min-shingle-hash). The gate emits the
    // md5-portable twin of the production xxhash64 fingerprint — same
    // shingle→hash→min pipeline, hash chosen for its exact DuckDB mirror —
    // plus the shingle count, so the whole output carries a value oracle.
    // The xxhash64 production path (TextOps.fingerprints) keeps its
    // ExtSpec stability tests; the portable form is additionally checked
    // against a driver-side MessageDigest recomputation in ExtSpec.
    "x_text_fingerprint" -> { (s, dir) =>
      TextOps
        .fingerprintsPortable(docs(s, dir), "doc_id", "text", 5)
        .select(col("id").as("doc_id"), col("fp"), col("n_shingles"))
        .orderBy("doc_id")
    },

    // the PRODUCTION fingerprint (xxhash64, 8-byte payload, codegen'd) —
    // gated against a pinned expected table: DuckDB has no xxhash64, so
    // Verify materializes min(XxHash64Ref(shingle)) per document (an
    // independent spec-derived XXH64, functions/XxHash64Ref.scala) under
    // the {GRAFT_EXPECTED} sibling dir and the oracle reads it back. The
    // shingle pipeline feeding both sides is DuckDB-proven by the
    // md5-portable twin above; this closes the remaining link — the
    // 64-bit hash values themselves.
    "x_text_fingerprint_prod" -> { (s, dir) =>
      TextOps
        .fingerprints(docs(s, dir), "doc_id", "text", 5)
        .select(col("id").as("doc_id"), col("fp"))
        .orderBy("doc_id")
    },

    // MOSS winnowing near-dup pairs (portable md5 form — every selected
    // fingerprint and pair re-derived in DuckDB): planted copies edit
    // ONE mid-document token of every 5th long doc, so the pair join
    // must recover (original, copy) through the winnowing selection —
    // shared runs on both sides of the edit keep contributing selected
    // fingerprints — while the df ∈ [2, maxDf] filter bounds candidate
    // generation exactly as at crawl scale.
    "x_winnow_pairs" -> { (s, dir) =>
      val d = docs(s, dir)
      val ws = split(trim(col("text")), "\\s+")
      val copies = d.where(col("doc_id") % 5 === 0 && size(ws) >= 30)
        .select(
          (col("doc_id") + 200000L).as("doc_id"),
          array_join(
            concat(slice(ws, 1, 19), array(lit("zzedit")), slice(ws, 21, 100000)),
            " ").as("text"))
      val corpus = d.select(col("doc_id"), col("text")).unionByName(copies)
      Dedup.winnowingNearDupPairs(
        corpus, "doc_id", "text", w = 5, windowSize = 4,
        minShared = 3, maxDf = 8, portable = true)
        .orderBy("id_a", "id_b")
    },

    // fuzzy-lexical train/eval decontamination (the winnowing member of
    // the decontam family, beside exact-shingle, bloom-prefiltered and
    // embedding-space): train = even docs, eval = odd docs plus
    // one-token-edited copies of TRAIN docs — the light-paraphrase leak
    // exact 13-gram decontam misses and the MOSS shared-run guarantee
    // still trips. Train-side df cap silences boilerplate fingerprints.
    // The oracle re-derives every fingerprint, the train df cap, the
    // pairing threshold and the per-eval rollup in DuckDB.
    "x_decontam_winnow" -> { (s, dir) =>
      val d = docs(s, dir)
      val ws = split(trim(col("text")), "\\s+")
      val edited = array_join(
        concat(slice(ws, 1, 19), array(lit("zzedit")), slice(ws, 21, 100000)),
        " ")
      val train = d.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      val leaks = d.where(col("doc_id") % 10 === 4 && size(ws) >= 30)
        .select((col("doc_id") + 200000L).as("doc_id"), edited.as("text"))
      val evalSplit = d.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(leaks)
      Dedup.winnowContamination(train, evalSplit, "doc_id", "text",
        w = 5, windowSize = 4, minShared = 3, maxDf = 8, portable = true)
        .select(
          col("id").as("doc_id"), col("matched_train_docs"),
          col("max_shared"), col("contaminated"))
        .orderBy("doc_id")
    },

    // the same fuzzy decontamination through the PERSISTED train index
    // — the form a real sweep over a fixed training corpus runs: train
    // postings are the writeWinnowIndex artifact (df-capped at build,
    // bucketed, layout-stamped), eval probes it bucket-pruned at
    // O(eval + touched buckets). Shares x_decontam_winnow's oracle —
    // stored ≡ inline on a fresh build is the operator's contract
    // (ExtSpec additionally pins append-advanced ≡ inline-over-union).
    "x_decontam_winnow_stored" -> { (s, dir) =>
      val d = docs(s, dir)
      val ws = split(trim(col("text")), "\\s+")
      val edited = array_join(
        concat(slice(ws, 1, 19), array(lit("zzedit")), slice(ws, 21, 100000)),
        " ")
      val train = d.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      val store = java.nio.file.Files.createTempDirectory("graft_decontam_widx").toString
      Dedup.writeWinnowIndex(train, "doc_id", "text", store,
        w = 5, windowSize = 4, maxDf = 8, buckets = 16, portable = true)
      val leaks = d.where(col("doc_id") % 10 === 4 && size(ws) >= 30)
        .select((col("doc_id") + 200000L).as("doc_id"), edited.as("text"))
      val evalSplit = d.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(leaks)
      Dedup.winnowContaminationStored(s, store, evalSplit, "doc_id", "text",
        minShared = 3)
        .select(
          col("id").as("doc_id"), col("matched_train_docs"),
          col("max_shared"), col("contaminated"))
        .orderBy("doc_id")
    },

    // ingestion-time winnowing near-dup admission through the STORED
    // fingerprint index (the fuzzy-text member of the admission
    // matrix): even docs are the ingested corpus — df-capped postings
    // written partitionBy fingerprint bucket with the layout stamped in
    // a marker — and the batch is the odd docs plus one-token-edited
    // copies of even docs (must come back dup_snapshot through the
    // bucket-pruned probe) and of odd docs (no stored match; they pair
    // in-batch with their source → dup_batch). The oracle re-derives
    // every fingerprint, both df scopes and both stages in DuckDB.
    "x_winnow_admit" -> { (s, dir) =>
      val d = docs(s, dir)
      val ws = split(trim(col("text")), "\\s+")
      val edited = array_join(
        concat(slice(ws, 1, 19), array(lit("zzedit")), slice(ws, 21, 100000)),
        " ")
      val even = d.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      val store = java.nio.file.Files.createTempDirectory("graft_winnow_index").toString
      Dedup.writeWinnowIndex(even, "doc_id", "text", store,
        w = 5, windowSize = 4, maxDf = 8, buckets = 16, portable = true)
      val odd = d.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
      val snapCopies = d
        .where(col("doc_id") % 10 === 4 && size(ws) >= 30)
        .select((col("doc_id") + 200000L).as("doc_id"), edited.as("text"))
      val batchCopies = d
        .where(col("doc_id") % 10 === 1 && size(ws) >= 30)
        .select((col("doc_id") + 300000L).as("doc_id"), edited.as("text"))
      val batch = odd.unionByName(snapCopies).unionByName(batchCopies)
      Dedup.winnowAdmitStored(s, store, batch, "doc_id", "text", minShared = 3)
        .orderBy("id")
    },

    // the STREAMING winnowing admission maintainer as a DRIVER GATE: the
    // even docs arrive as batch 0 (empty store — in-batch stage only,
    // and their postings become the store), the x_winnow_admit batch
    // arrives as batch 1 and must classify through the accumulated
    // store under the cumulative-prior df cap; the oracle re-derives
    // BOTH batches' decisions in DuckDB, knowing the batching
    "x_winnow_stream" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.CdcStream
      val d = docs(s, dir)
      val ws = split(trim(col("text")), "\\s+")
      val edited = array_join(
        concat(slice(ws, 1, 19), array(lit("zzedit")), slice(ws, 21, 100000)),
        " ")
      val even = d.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      val odd = d.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
      val snapCopies = d
        .where(col("doc_id") % 10 === 4 && size(ws) >= 30)
        .select((col("doc_id") + 200000L).as("doc_id"), edited.as("text"))
      val batchCopies = d
        .where(col("doc_id") % 10 === 1 && size(ws) >= 30)
        .select((col("doc_id") + 300000L).as("doc_id"), edited.as("text"))
      val batch2 = odd.unionByName(snapCopies).unionByName(batchCopies)
      val base = java.nio.file.Files.createTempDirectory("graft_winnow_stream").toString
      val in = s"$base/in"
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        // one AvailableNow run, two micro-batches via maxFilesPerTrigger
        // (oldest file first) — half the query start/stop cost
        writeOrderedBatches(even, batch2, in)
        val q = CdcStream.winnowAdmitMaintain(
          s.readStream.schema(even.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          s"$base/idx", s"$base/out", s"$base/ckpt", "doc_id", "text",
          maxDf = 8L, numBuckets = 16, portable = true,
          trigger = Trigger.AvailableNow())
        q.awaitTermination()
      }
      s.read.parquet(s"$base/out").select("id", "status").orderBy("id")
    },

    // the WHOLE ingest recipe as ONE stream — the production composition
    // of the five admission/cleaning stages, per micro-batch in one
    // foreachBatch against five stored states: paragraph boilerplate
    // strip (cumulative counts) → exact-substring strip (gram store) →
    // winnowing fuzzy-text admission (fingerprint store) → perceptual
    // Hamming admission of the survivors' sketches (banded store) →
    // semantic screen of the survivors' embeddings against a FIXED
    // reference index (the decontamination shape). Two id-monotone
    // micro-batches (doc_id < 250, then the rest plus plants) drain in
    // ONE AvailableNow run via maxFilesPerTrigger=1. Plants exercise
    // every fate: substring dups of batch-0 docs (gutted at stage 2),
    // every-8th-word edits (runs of 7 < k=10 survive stage 2, pair at
    // winnow w=4/ws=3 whose guarantee window is 6), closed-form 64-bit
    // sketches with low-bit flips (dup_snapshot / dup_batch at the
    // perceptual stage), and ×1.05-perturbed / negated-pair embeddings
    // (contaminated / dup_batch at the semantic stage). Footers plant
    // the batch-granular cumulative contract: the %6 footer crosses
    // minDocs=25 inside batch 0, the %15 footer only cumulatively in
    // batch 1 (batch-0 stragglers keep it). The oracle re-derives the
    // ENTIRE five-stage composition batching-aware in DuckDB — md5
    // paragraphs and winnowing (portable forms), string 10-grams,
    // closed-form sketch arithmetic + brute-force bit_count Hamming,
    // exact cosine vs the same parquet embeddings.
    "x_pipeline_ingest_stream" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.CdcStream
      GraftFunctions.register(s)
      val d0 = docs(s, dir).where(col("doc_id") % 3 === 0)
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val ws = split(trim(col("text")), "\\s+")
      val organic = d0.select(
        col("doc_id"),
        concat_ws("\n",
          array_join(slice(ws, 1, 12), " "),
          array_join(slice(ws, 13, 100000), " "),
          when(col("doc_id") % 6 === 0, lit("subscribe to our newsletter")),
          when(col("doc_id") % 15 === 0, lit("edge crossing notice"))).as("text"))
      // closed-form 64-bit sketches: 4 LCG-derived 16-bit blocks (top
      // block 15 bits keeps the composite positive) — pure integer
      // arithmetic both engines evaluate identically
      def blk(g: Column, i: Int, m: Long): Column =
        pmod(pmod(g * lit(1103515245L) + lit(12345L) + lit(i.toLong * 2654435761L),
          lit(2147483647L)), lit(m))
      def sk(g: Column): Column =
        ((blk(g, 3, 32768L) * 65536 + blk(g, 2, 65536L)) * 65536 +
          blk(g, 1, 65536L)) * 65536 + blk(g, 0, 65536L)
      def flip1(h: Column): Column = h + lit(1L) - lit(2L) * pmod(h, lit(2L))
      def negv(v: Column): Column = transform(v, x => -x)
      def perturb(v: Column): Column =
        concat(array(element_at(v, 1) * lit(1.05f)), slice(v, lit(2), size(v) - 1))
      def perturbNeg(v: Column): Column =
        concat(array(element_at(v, 1) * lit(-1.05f)),
          transform(slice(v, lit(2), size(v) - 1), x => -x))
      def synthText(prefix: String): Column = array_join(
        transform(sequence(lit(1), lit(12)),
          j => concat(lit(prefix), col("doc_id"), lit("t"), j)), " ")
      // organic rows: own sketch group, own embedding
      val organicFull = organic.join(e, organic("doc_id") === e("vec_id"))
        .select(organic("doc_id"), col("text"),
          sk(organic("doc_id")).as("hh"), col("embedding").as("emb"))
      // plant bases: organic batch-0 rows joined to their own and their
      // +1 neighbors' embeddings
      val ob = organic.where(col("doc_id") < 250)
        .join(e, organic("doc_id") === e("vec_id"))
        .select(organic("doc_id").as("bid"), col("text"), col("embedding").as("bemb"))
        .join(e.select((col("vec_id") - 1).as("bid"), col("embedding").as("bemb1")),
          Seq("bid"), "left_outer")
      def plant(stripe: Int, off: Long)(sel: DataFrame => DataFrame): DataFrame =
        sel(ob.where(col("bid") % 30 === stripe)
          .withColumn("doc_id", col("bid") + off))
      // A: exact-substring dups of batch-0 organic docs
      val pA = plant(0, 100000L)(_.select(col("doc_id"),
        concat(lit("xdupsalt "), col("text")).as("text"),
        sk(col("doc_id")).as("hh"), negv(col("bemb")).as("emb")))
      // B: every-8th-word edits — survive stage 2, pair at winnow
      val pB = plant(6, 200000L)(p => p.select(col("doc_id"),
        array_join(transform(split(trim(col("text")), "\\s+"),
          (w, i) => when(pmod(i, lit(8)) === 7,
            concat(lit("zed"), col("doc_id"), lit("x"), i)).otherwise(w)), " ").as("text"),
        sk(col("doc_id")).as("hh"), negv(col("bemb")).as("emb")))
      // C: unique text, low-bit-flipped copy of a stored sketch
      val pC = plant(12, 400000L)(_.select(col("doc_id"),
        synthText("cc").as("text"),
        flip1(sk(col("bid"))).as("hh"), negv(col("bemb")).as("emb")))
      // D: in-batch perceptual pair on an unseen sketch group
      val pD1 = plant(18, 450000L)(_.select(col("doc_id"),
        synthText("dd").as("text"),
        sk(col("bid") + 10000000L).as("hh"), negv(col("bemb")).as("emb")))
      val pD2 = plant(18, 460000L)(_.select(col("doc_id"),
        synthText("de").as("text"),
        flip1(sk(col("bid") + 10000000L)).as("hh"), negv(col("bemb")).as("emb")))
      // E: semantic contamination — perturbed copy of a reference-index
      // vector (vec_id = bid+1 ≡ 1 mod 3 lives in the index)
      val pE = plant(24, 500000L)(_.select(col("doc_id"),
        synthText("ee").as("text"),
        sk(col("doc_id")).as("hh"), perturb(col("bemb1")).as("emb")))
      // F: in-batch semantic pair — negated reference vector and its
      // perturbed twin (far from the index, near each other)
      val pF1 = plant(21, 550000L)(_.select(col("doc_id"),
        synthText("ff").as("text"),
        sk(col("doc_id")).as("hh"), negv(col("bemb1")).as("emb")))
      val pF2 = plant(21, 560000L)(_.select(col("doc_id"),
        synthText("fg").as("text"),
        sk(col("doc_id")).as("hh"), perturbNeg(col("bemb1")).as("emb")))
      val plants = pA.unionByName(pB).unionByName(pC).unionByName(pD1)
        .unionByName(pD2).unionByName(pE).unionByName(pF1).unionByName(pF2)
      val batch0 = organicFull.where(col("doc_id") < 250)
      val batch1 = organicFull.where(col("doc_id") >= 250).unionByName(plants)
      val base = java.nio.file.Files.createTempDirectory("graft_pipeline_stream").toString
      // fixed semantic reference index: the vec_id ≡ 1 mod 3 embeddings
      // (disjoint from the ingested ≡ 0 docs), K = 64 stored seeds
      val ref = embs(s, dir).where(col("vec_id") % 3 === 1)
        .select("vec_id", "embedding")
      Dedup.writeSemanticIndex(
        Dedup.semanticIndex(ref, "vec_id", "embedding", 64),
        Dedup.semanticSeeds(ref, "vec_id", "embedding", 64),
        s"$base/semidx")
      val in = s"$base/in"
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        // two id-monotone files, ONE AvailableNow run: maxFilesPerTrigger=1
        // turns them into micro-batches 0 and 1 (oldest file first), at a
        // single streaming-query start/stop
        writeOrderedBatches(batch0, batch1, in)
        val q = CdcStream.ingestPipelineMaintain(
          s.readStream.schema(batch0.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          s"$base/store", s"$base/semidx", s"$base/ckpt",
          "doc_id", "text", "hh", "emb",
          k = 10, minDocsBoiler = 25, w = 4, windowSize = 3, minShared = 3,
          maxDf = 8L, radius = 11, threshold = 0.9, numBuckets = 16,
          hashKey = false, portable = true,
          trigger = Trigger.AvailableNow())
        q.awaitTermination()
      }
      s.read.parquet(s"$base/store/admitted")
        .select("doc_id", "final_text", "winnow_status",
          "perceptual_status", "semantic_status", "admitted")
        .orderBy("doc_id")
    },

    // multimodal metadata through the batched decode stage — byte counts
    // and typed meta are SQL-derivable, so this entry is oracle-gated even
    // though the decode runs through the real mapPartitions plumbing
    "x_multimodal_meta" -> { (s, dir) =>
      val media = Multimodal.syntheticMedia(s, docs(s, dir))
      Multimodal
        .extractFeatures(media)
        .toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"))
        .join(
          media.toDF().select(col("media_id"), col("width"), col("height"), col("duration_ms")),
          Seq("media_id"))
        .orderBy("media_id")
    },

    // REAL image decode through the batched codec stage: synthetic PNG
    // payloads (dims derived from n_chars, so the decoded dimensions are
    // SQL-derivable) → javax.imageio decode → decoded dims + pixel counts.
    // Oracle-gated on the real decoder's output.
    "x_multimodal_decode" -> { (s, dir) =>
      Multimodal
        .decodeImages(Multimodal.cachedSyntheticImages(s, docs(s, dir)))
        .toDF()
        .select(col("media_id"), col("width_decoded"), col("height_decoded"), col("n_px"))
        .orderBy("media_id")
    },

    // REAL audio decode through the batched codec stage: synthetic RIFF/
    // PCM WAV payloads (sample counts derived from n_chars, so decoded
    // sample counts and durations are SQL-derivable) → hand-rolled RIFF
    // parser → decoded stream parameters. Oracle-gated on the real
    // decoder's output — the audio twin of x_multimodal_decode.
    "x_audio_decode" -> { (s, dir) =>
      Multimodal
        .decodeAudio(Multimodal.cachedSyntheticAudio(s, docs(s, dir)))
        .toDF()
        .select(col("media_id"), col("n_samples"), col("sample_rate"), col("duration_ms_decoded"))
        .orderBy("media_id")
    },

    // REAL video decode through the batched codec stage: synthetic GRVI
    // containers (frame count + dims derived from n_chars) → structural
    // container parse + full per-frame pixel decode → decoded geometry.
    // Oracle-gated on the real decoder's output — the video twin of
    // x_multimodal_decode / x_audio_decode.
    "x_video_decode" -> { (s, dir) =>
      Multimodal
        .decodeVideo(Multimodal.cachedSyntheticVideo(s, docs(s, dir)))
        .toDF()
        .select(col("media_id"), col("n_frames"), col("width_decoded"), col("height_decoded"), col("n_px_total"))
        .orderBy("media_id")
    },

    // multimodal feature extraction: all three modalities run their REAL
    // codecs (image/video checksum = decoded pixel sums, audio = PCM
    // sample sum) — no oracle (content sums of LCG-generated payloads
    // aren't SQL-derivable); decode itself is oracle-gated via
    // x_multimodal_decode / x_audio_decode / x_video_decode
    "x_multimodal_features" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaMixed(s, docs(s, dir))
      Multimodal
        .extractFeaturesReal(media)
        .toDF()
        // checksum IS the decoded content (pixel/sample/frame sums); the
        // oracle reproduces it in closed form from the fixture's LCG —
        // pixel i of seed s is ((A^i·s + C·Σ A^j) >>> 40) masked, so a
        // recursive CTE of affine-map powers lets DuckDB compute every
        // decoded sum without any codec. n_bytes stays out of the gate:
        // PNG/deflate byte length is not SQL-derivable (byte counts are
        // gated by x_multimodal_meta; n_bytes + mean features keep their
        // ExtSpec coverage).
        .select(col("media_id"), col("kind"), col("checksum"))
        .orderBy("media_id")
    },

    // time-series gapfill (the TimescaleDB time_bucket_gapfill + locf +
    // interpolate family over the reference's events): 1h grid per user,
    // fills summarized per user. The checksums are e4 fixed-point sums
    // (floor(v·10⁴ + 0.5) per CELL, then an integer sum) so the result is
    // summation-order-independent and hash-exact cross-engine.
    "x_gapfill" -> { (s, dir) =>
      val filled = graft.operators.GapFill
        .fill(events(s, dir), Seq("user_id"), "ts", "value", bucketMicros = 3600L * 1000000L)
      filled
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_buckets"),
          count(col("v_actual")).as("n_actual"),
          sum(floor(col("locf") * 10000 + 0.5)).cast("long").as("sum_locf_e4"),
          sum(floor(col("interp") * 10000 + 0.5)).cast("long").as("sum_interp_e4")
        )
        .orderBy("user_id")
    },

    // Count-Min sketch beside the exact vocabulary counts. The 100 TB
    // shape: the sketch is one fixed-size partial aggregate (a few KB
    // regardless of corpus), the exact top-k ships k rows; estimates for
    // ANY token then cost O(1) driver-side with no second scan. Formerly
    // rows-only (sketch internals have no DuckDB twin); now HASH-gated —
    // the oracle owns the exact top-20 counts, and the published CMS
    // guarantees (never undercounts; overcount ≤ ε·N) ride as booleans
    // the oracle fixes TRUE. CMS counters add elementwise, so the
    // estimates are merge-order independent and the booleans stable.
    "x_vocab_cms" -> { (s, dir) =>
      import s.implicits._
      val toks = docs(s, dir)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0)
      val total = toks.count()
      val epsN = math.ceil(0.001 * total).toLong
      val skBytes = toks
        .agg(expr("count_min_sketch(tok, 0.001d, 0.99d, 42)"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(skBytes))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok").asc)
        .limit(20)
        .collect()
        .map { r =>
          val est = cms.estimateCount(r.getString(0))
          (r.getString(0), r.getLong(1), est >= r.getLong(1), est <= r.getLong(1) + epsN)
        }
      s.createDataset(top.toSeq)
        .toDF("tok", "n_exact", "never_undercounts", "within_eps_n")
        .orderBy(col("n_exact").desc, col("tok").asc)
    },

    // Morton (Z-order) key for two-column data skipping — the layout key
    // operators.ZOrder.cluster range-partitions on. Pure shift/mask
    // integer math, so the oracle runs the identical formula; the
    // locality property itself (tight per-file rectangles) is asserted
    // in ZOrderSpec.
    "x_zorder" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.select(
        col("event_id"),
        graft.operators.ZOrder
          .zValue(
            col("user_id").bitwiseAND(lit(0xFFFFL)),
            expr("unix_micros(ts) div 3600000000L").bitwiseAND(lit(0xFFFFL)))
          .as("zval")
      ).orderBy("event_id")
    },

    // time_bucket + first/last aggregates (the Timescale rollup idiom:
    // "daily open/close per series"): Spark's min_by/max_by are the
    // first(value, ts)/last(value, ts) twins. Deterministic because
    // (user_id, ts) is unique at µs grain on this data — asserted in
    // ExtSpec so a data change fails in tests, not in the gate.
    "x_time_bucket_agg" -> { (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), expr("unix_micros(ts) div 86400000000L").as("day_bucket"))
        .agg(
          count(lit(1)).as("n"),
          round(expr("min_by(value, unix_micros(ts))"), 4).as("open_value"),
          round(expr("max_by(value, unix_micros(ts))"), 4).as("close_value"),
          round(max(col("value")), 4).as("high"),
          round(min(col("value")), 4).as("low")
        )
        .orderBy("user_id", "day_bucket")
    },

    // Timescale-flagship continuous aggregate, gated end to end: run the
    // actual streaming query (update-mode rollup + foreachBatch upsert
    // into the parquet state table) over the events fed as a file stream,
    // then hash-match the MATERIALIZED state against a DuckDB batch
    // time-bucket aggregate — the "precomputed rollup equals the query it
    // precomputes" contract. Values aggregate as integer cents so the
    // incremental sum is exact (long addition is associative; a double
    // total would differ from the batch oracle in the last bits).
    "x_continuous_agg" -> { (s, dir) =>
      val ev = events(s, dir).select(
        col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      val work = java.nio.file.Files.createTempDirectory("graft-cagg").toString
      // ONE input file → structurally one AvailableNow micro-batch: with
      // several files the drain could split into batches and the 2 h
      // watermark would drop later-batch rows the batch oracle keeps —
      // the single-batch invariant must not hinge on the file-source's
      // default files-per-trigger versus however many partitions the
      // fixture happens to write
      ev.coalesce(1).write.mode("overwrite").parquet(s"$work/in")
      val stream = s.readStream.schema(ev.schema).parquet(s"$work/in")
      // AvailableNow: drain the bounded input immediately instead of
      // idling on the 5 s poll cadence — the backfill trigger a bounded
      // rollup build uses in production too. State partitions latch from
      // the session conf at first start of a fresh checkpoint: pin a
      // count sized to THIS rollup's key cardinality (the per-partition
      // state-store commit is the fixed cost here; 32 near-empty stores
      // would triple the gate's wall time for no parallelism gain).
      val q = withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        graft.streaming.CdcStream.continuousAggregate(
          stream, "ts", "1 hour", "2 hours", "event_type",
          s"$work/state", s"$work/ckpt",
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
          valueCol = "value_cents")
      }
      q.awaitTermination(); q.stop()
      s.read.parquet(s"$work/state")
        .select(col("win_start"), col("event_type"), col("n"), col("total"))
        .orderBy("win_start", "event_type")
    },

    // PII redaction: email → IPv4 → phone scrubbed to typed placeholders
    // with per-category hit counts, as one codegen'd map-only projection.
    // The gate corpus carries no PII, so deterministic synthetic PII is
    // appended per doc (both engines build the identical string) and the
    // redaction chain is what's under test.
    "x_pii_redact" -> { (s, dir) =>
      val salted = docs(s, dir).withColumn(
        "text_pii",
        concat(
          col("text"),
          lit(" Contact user"), col("doc_id"), lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at "), (col("doc_id") % 256).cast("string"), lit(".0.0."),
          (col("doc_id") % 100).cast("string")
        )
      )
      TextOps
        .redactPiiWithCounts(salted, "text_pii")
        .select("doc_id", "n_email", "n_ip", "n_phone", "redacted")
        .orderBy("doc_id")
    },

    // int8 embedding quantization round-trip: per-vector scale, quantized
    // checksum/extrema, and dequantization error — one shuffle-free
    // projection of higher-order array ops (Similarity.quantizeInt8).
    "x_embed_quantize" -> { (s, dir) =>
      Similarity
        .quantizeSummary(embs(s, dir), "vec_id", "embedding")
        .orderBy("vec_id")
    },

    // ORC source coverage: documents round-tripped through an ORC
    // write/read (fixture-cached per corpus) must aggregate identically
    // to the parquet original the oracle reads.
    "x_orc_roundtrip" -> { (s, dir) =>
      val d = docs(s, dir)
      val orcDir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft-orc-${new java.io.File(dir).getName}"
      ).getAbsolutePath
      val fp = graft.ext.FixtureCache.fingerprint(d, "orc-roundtrip")
      if (!graft.ext.FixtureCache.matches(orcDir, fp)) {
        graft.sources.CorpusIO.writeOrc(d, orcDir)
        graft.ext.FixtureCache.write(orcDir, fp)
      }
      graft.sources.CorpusIO
        .readOrc(s, orcDir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id")
        )
        .orderBy("source")
    },

    // JSONL round-trip, per-document: JSONL's entire fidelity risk is
    // string escaping (newlines, quotes, unicode in text), so the gate
    // compares an md5 of every document's text after the round-trip —
    // stronger than the ORC gate's aggregates, pinned row-by-row against
    // the parquet original in DuckDB.
    "x_jsonl_roundtrip" -> { (s, dir) =>
      val d = docs(s, dir)
      val jlDir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft-jsonl-${new java.io.File(dir).getName}"
      ).getAbsolutePath
      val fp = graft.ext.FixtureCache.fingerprint(d, "jsonl-roundtrip")
      if (!graft.ext.FixtureCache.matches(jlDir, fp)) {
        graft.sources.CorpusIO.writeJsonl(d, jlDir)
        graft.ext.FixtureCache.write(jlDir, fp)
      }
      val back = graft.sources.CorpusIO.readJsonl(
        s, jlDir, graft.sources.CorpusIO.documentsSchema)
      graft.sources.CorpusIO
        .validRecords(back)
        .select(
          col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // Avro round-trip, per-document: the reference's Kafka stack speaks
    // Avro on the wire, so the engine proves lossless binary interchange
    // the same way as JSONL — md5 of every document after write→read,
    // pinned against the parquet original in DuckDB.
    "x_avro_roundtrip" -> { (s, dir) =>
      val d = docs(s, dir)
      val avDir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft-avro-${new java.io.File(dir).getName}"
      ).getAbsolutePath
      val fp = graft.ext.FixtureCache.fingerprint(d, "avro-roundtrip")
      if (!graft.ext.FixtureCache.matches(avDir, fp)) {
        graft.sources.CorpusIO.writeAvro(d, avDir)
        graft.ext.FixtureCache.write(avDir, fp)
      }
      graft.sources.CorpusIO.readAvro(s, avDir)
        .select(
          col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // CSV round-trip, per-document, over a corpus SPICED with the
    // characters CSV exists to escape (the raw docs are plain ASCII, so
    // the gate prepends a quote+comma+newline prefix and appends a
    // trailing quote before the write): write RFC-4180 CSV, read it back
    // multiLine, md5 every document against DuckDB computing the same
    // md5 from the parquet original — quoting, quote doubling, and
    // embedded-newline fidelity all pinned row-by-row.
    "x_csv_roundtrip" -> { (s, dir) =>
      val spiced = docs(s, dir).select(
        col("doc_id"),
        concat(lit("q=\",\n"), col("text"), lit("\"")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      val csvDir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft-csv-${new java.io.File(dir).getName}"
      ).getAbsolutePath
      val fp = graft.ext.FixtureCache.fingerprint(spiced, "csv-roundtrip")
      if (!graft.ext.FixtureCache.matches(csvDir, fp)) {
        graft.sources.CorpusIO.writeCsv(spiced, csvDir)
        graft.ext.FixtureCache.write(csvDir, fp)
      }
      val back = graft.sources.CorpusIO.readCsv(
        s, csvDir, graft.sources.CorpusIO.documentsSchema, multiLine = true)
      graft.sources.CorpusIO
        .validRecords(back)
        .select(
          col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // Timescale counter_agg → delta/rate/num_resets over a synthetic
    // counter derived IN-QUERY from events (a per-user cumulative cents
    // sum wrapped mod 1e6, so it genuinely resets a few times per user —
    // the construction is itself window SQL, so DuckDB re-derives the
    // identical counter). All-long until the final rate division.
    "x_counter_agg" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(expr("unix_micros(ts)"))
      val ctr = events(s, dir)
        .select(col("user_id"), col("ts"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("counter", sum(col("cents")).over(w) % 1000000L)
      graft.operators.TsAnalytics
        .counterAgg(ctr, Seq("user_id"), "ts", "counter")
        .select(
          col("user_id"), col("n_points"), col("n_resets"),
          col("first_v"), col("last_v"), col("delta"), col("span_s"),
          round(col("rate_per_s"), 6).as("rate_per_s"))
        .orderBy("user_id")
    },

    // Timescale average(time_weight('LOCF', ts, value)) per user: each
    // observation weighs by its holding time. Exact-long weighted sum
    // (e4 fixed-point value × ms duration) → hash-stable cross-engine.
    "x_time_weighted" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .timeWeightedAvg(events(s, dir), Seq("user_id"), "ts", "value")
        .orderBy("user_id")
    },

    // Timescale histogram(value, 0, 600, 12) per event_type —
    // width_bucket layout with under/overflow buckets. Pure arithmetic
    // bucketing, one hash aggregate; the oracle runs the identical
    // floor((v-lo)/width)+1 expression.
    "x_histogram" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .histogram(events(s, dir), Seq("event_type"), "value",
          lo = 0.0, hi = 600.0, nBuckets = 12)
        .orderBy("event_type", "bucket")
    },

    // LTTB downsample (Steinarsson 2013) of each user's value series to
    // 24 points, gated against a FULLY INDEPENDENT oracle: the selection
    // is re-derived from the paper inside DuckDB itself (recursive CTE
    // over the bucket index carrying the last-selected point; see the
    // oracle SQL). Exact cross-engine agreement holds because every
    // selected point is an original (t_us, value) pair and the area
    // argmax compares doubles built from the same IEEE expression tree:
    // bucket boundaries replicate Scala's `(i * every).toInt` with
    // `every` computed once (floor(i*((n-2)/22.0)) — NOT i*(n-2)/22.0,
    // which rounds differently at exact-multiple boundaries), the t
    // centroid is an exact integer sum divided once on both engines, and
    // the v centroid is a left-to-right fold on both engines.
    "x_lttb" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .lttb(events(s, dir), "user_id", "ts", "value", nOut = 24)
        .select(col("key").cast("long").as("user_id"), col("t_us"), col("v").as("value"))
        .orderBy("user_id", "t_us")
    },

    // ASAP smoothing (Rong & Bailis, VLDB 2017) of each event_type's
    // hourly series: window chosen at the autocorrelation peaks to
    // minimize roughness under the kurtosis guard, gated against a FULLY
    // INDEPENDENT oracle — the entire algorithm (acf, candidate peaks,
    // per-candidate SMA + roughness + kurtosis, the sequential
    // best-tracking fold collapsed to its declarative equivalent
    // `argmin(rough) over {kurt >= kurt0, rough < rough0}, smallest w on
    // ties`) re-derived in DuckDB SQL over list lambdas. Bit-exact
    // because the grid doubles are exact-long sums divided once, every
    // reduction is a left-to-right fold on both engines, and the planted
    // key's decision margins are wide (see asapGrid). maxLagCap=30 keeps
    // the candidate set to the one daily peak — larger caps admit
    // harmonic windows that cancel the planted signal exactly, turning
    // the roughness argmin into a float-noise comparison no independent
    // implementation can reproduce.
    "x_asap_smooth" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .asapSmooth(asapGrid(s, dir), "event_type", "bucket_ts", "v", maxLagCap = 30)
        .select(col("key").as("event_type"), col("t_us"), col("v_smooth"), col("window").as("w"))
        .orderBy("event_type", "t_us")
    },

    // Timescale gauge_agg → delta/idelta_right/irate: bidirectional gauge,
    // no reset logic. Every double output is min_by/max_by-picked or a
    // single subtraction/division — nothing sums doubles, so the unrounded
    // values are bit-identical cross-engine (only irate, a division, is
    // rounded for presentation).
    "x_gauge_agg" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .gaugeAgg(events(s, dir), Seq("user_id"), "ts", "value")
        .select(
          col("user_id"), col("n_points"), col("first_v"), col("last_v"),
          col("delta"), col("idelta_right"), col("span_s"),
          round(col("irate_per_s"), 6).as("irate_per_s"))
        .orderBy("user_id")
    },

    // Timescale stats_agg(ts, value) → slope/intercept/corr: OLS of value
    // against elapsed seconds. The six sufficient statistics are exact
    // long sums (the hash anchor); the derived doubles come from one fixed
    // IEEE expression tree both engines evaluate identically, then are
    // hashed as e6 fixed-point longs (floor(x*1e6+0.5)) — decimal
    // round(x,6) is engine-dependent at 7th-digit ties (Spark BigDecimal
    // HALF_UP vs DuckDB double rounding), which is exactly what the r8
    // hash-fail caught.
    "x_stats_regr" -> { (s, dir) =>
      val e6 = (c: String) =>
        floor(col(c) * 1000000.0 + 0.5).cast("long").as(c + "_e6")
      graft.operators.TsAnalytics
        .statsRegr(events(s, dir), Seq("user_id"), "ts", "value")
        .select(
          col("user_id"), col("n"), col("sum_x"), col("sum_y"),
          col("sum_xx"), col("sum_xy"), col("sum_yy"),
          e6("slope"), e6("intercept"), e6("corr"))
        .orderBy("user_id")
    },

    // Timescale counter_agg per time_bucket with both accessor flavors:
    // in-bucket delta (arg_min/arg_max of the reset-adjusted counter) and
    // interpolated delta/rate (segment increase apportioned to covered
    // buckets by exact integer `Δ·overlap div len` terms — truncation is
    // the defined e-4 quantum, so the sums are shuffle-order independent).
    "x_counter_bucketed" -> { (s, dir) =>
      val e6 = (c: String) =>
        floor(col(c) * 1000000.0 + 0.5).cast("long").as(c + "_e6")
      graft.operators.TsAnalytics
        .counterAggBucketed(events(s, dir), Seq("user_id"), "ts", "value", 3600L)
        .select(
          col("user_id"), col("bucket_s"), col("n_points"), col("n_resets"),
          col("delta_in_e4"), col("covered_us"), col("delta_interp_e4"),
          e6("rate_per_s"))
        .orderBy("user_id", "bucket_s")
    },

    // gauge_agg per time_bucket — the counter's free-moving twin: deltas
    // may be negative, so the split term runs on |Δ| with the sign
    // re-applied (Spark div truncates toward zero, DuckDB // floors —
    // identical only on non-negative operands).
    "x_gauge_bucketed" -> { (s, dir) =>
      val e6 = (c: String) =>
        floor(col(c) * 1000000.0 + 0.5).cast("long").as(c + "_e6")
      graft.operators.TsAnalytics
        .gaugeAggBucketed(events(s, dir), Seq("user_id"), "ts", "value", 3600L)
        .select(
          col("user_id"), col("bucket_s"), col("n_points"),
          col("delta_in_e4"), col("covered_us"), col("delta_interp_e4"),
          e6("rate_per_s"))
        .orderBy("user_id", "bucket_s")
    },

    // Timescale stats_agg(value) 1-D accessor family: the five exact
    // integer power sums anchor the hash (Σy²/Σy³/Σy⁴ as DECIMAL(38,0),
    // stringified so the wide integers compare textually — doubles
    // would be exact-cast-identical but decimals hash engine-dependently);
    // average/stddev/skewness/kurtosis re-derive through one fixed IEEE
    // tree on both engines and gate as e6 fixed-point longs.
    "x_stats_1d" -> { (s, dir) =>
      val e6 = (c: String) =>
        floor(col(c) * 1000000.0 + 0.5).cast("long").as(c + "_e6")
      graft.operators.TsAnalytics
        .statsAgg1d(events(s, dir), Seq("user_id"), "value")
        .select(
          col("user_id"), col("n"), col("sum_y"),
          col("sum_y2").cast("string").as("sum_y2_str"),
          col("sum_y3").cast("string").as("sum_y3_str"),
          col("sum_y4").cast("string").as("sum_y4_str"),
          e6("average"), e6("stddev_pop"), e6("stddev_samp"),
          e6("skewness"), e6("kurtosis"))
        .orderBy("user_id")
    },

    // Timescale rollup(stats_agg): daily moments re-aggregated from the
    // hourly power sums, never the raw stream — integer sums add exactly,
    // so this hash-matches the oracle's daily-from-raw aggregate (the
    // exact-decomposition pin, same idiom as x_rollup_hierarchy).
    "x_stats_rollup" -> { (s, dir) =>
      val e6 = (c: String) =>
        floor(col(c) * 1000000.0 + 0.5).cast("long").as(c + "_e6")
      val ev = events(s, dir)
        .withColumn("hour_s", expr("(unix_micros(ts) div 3600000000L) * 3600"))
      val hourly = graft.operators.TsAnalytics
        .statsAgg1d(ev, Seq("user_id", "hour_s"), "value")
      val daily = graft.operators.TsAnalytics.statsRollup1d(
        hourly.withColumn("day_s", expr("(hour_s div 86400) * 86400")),
        Seq("user_id", "day_s"))
      daily
        .select(
          col("user_id"), col("day_s"), col("n"), col("sum_y"),
          col("sum_y2").cast("string").as("sum_y2_str"),
          col("sum_y3").cast("string").as("sum_y3_str"),
          col("sum_y4").cast("string").as("sum_y4_str"),
          e6("average"), e6("stddev_pop"), e6("stddev_samp"),
          e6("skewness"), e6("kurtosis"))
        .orderBy("user_id", "day_s")
    },

    // Timescale rolling(stats_agg): trailing-24h moments re-aggregated
    // over the hourly power sums via one key-partitioned RANGE-frame
    // window (gapped hours weigh nothing — the time-correct frame), same
    // exact-integer decomposition and fixed IEEE tree as x_stats_1d.
    "x_stats_rolling" -> { (s, dir) =>
      val e6 = (c: String) =>
        floor(col(c) * 1000000.0 + 0.5).cast("long").as(c + "_e6")
      val ev = events(s, dir)
        .withColumn("hour_s", expr("(unix_micros(ts) div 3600000000L) * 3600"))
      val hourly = graft.operators.TsAnalytics
        .statsAgg1d(ev, Seq("user_id", "hour_s"), "value")
      graft.operators.TsAnalytics
        .statsRolling1d(hourly, Seq("user_id"), "hour_s", windowSeconds = 86400L)
        .select(
          col("user_id"), col("hour_s"), col("n"), col("sum_y"),
          col("sum_y2").cast("string").as("sum_y2_str"),
          col("sum_y3").cast("string").as("sum_y3_str"),
          col("sum_y4").cast("string").as("sum_y4_str"),
          e6("average"), e6("stddev_pop"), e6("stddev_samp"),
          e6("skewness"), e6("kurtosis"))
        .orderBy("user_id", "hour_s")
    },

    // Timescale rolling(stats_agg(y, x)): trailing-6h REGRESSION
    // re-aggregated over hourly exact power sums (x = absolute epoch
    // seconds so sums add across frames; Σx/Σx²/Σxy/Σy² exact through
    // DECIMAL ↔ HUGEINT), cross-terms Sxx/Sxy/Syy computed exact in
    // integers BEFORE any double (absolute-epoch magnitudes would cost
    // ~9 digits of double cancellation), then one fixed IEEE tree —
    // the 2-D twin of x_stats_rolling.
    "x_stats_regr_rolling" -> { (s, dir) =>
      val e6 = (c: String) =>
        floor(col(c) * 1000000.0 + 0.5).cast("long").as(c + "_e6")
      val ev = events(s, dir)
        .withColumn("hour_s", expr("(unix_micros(ts) div 3600000000L) * 3600"))
      val hourly = graft.operators.TsAnalytics
        .statsAgg2d(ev, Seq("user_id", "hour_s"), "ts", "value")
      graft.operators.TsAnalytics
        .statsRolling2d(hourly, Seq("user_id"), "hour_s", windowSeconds = 21600L)
        .select(
          col("user_id"), col("hour_s"), col("n"), col("sum_y"),
          col("sum_x").cast("string").as("sum_x_str"),
          col("sum_xx").cast("string").as("sum_xx_str"),
          col("sum_xy").cast("string").as("sum_xy_str"),
          col("sum_yy").cast("string").as("sum_yy_str"),
          e6("slope"), e6("intercept"), e6("corr"))
        .orderBy("user_id", "hour_s")
    },

    // Timescale state_agg/duration_in over the event_type state machine:
    // LOCF holding times (exact ms longs), entry transitions counted once
    // per run.
    "x_state_agg" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .stateAgg(events(s, dir), Seq("user_id"), "ts", "event_type")
        .orderBy("user_id", "state")
    },

    // Timescale candlestick_agg per (event_type, hour): OHLC picked by
    // min_by/max_by over the unique µs key (ts uniqueness within
    // (event_type, hour) verified on the corpus at all SFs), volume as the
    // exact-long e4 sum. Pure hash aggregate — no window.
    "x_candlestick" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .candlestick(events(s, dir), Seq("event_type"), "ts", "value", bucket = "hour")
        .orderBy("event_type", "bucket_ts")
    },

    // heartbeat_agg + uptime per time_bucket: per-(user, hour) covered
    // milliseconds under a 600 s liveness window, coverage intervals
    // clamped per gap then split across bucket edges — the third member
    // of the edge-split family, oracle re-derived via generate_series
    "x_heartbeat_bucketed" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .heartbeatUptimeBucketed(events(s, dir), Seq("user_id"), "ts",
          livenessS = 600L, bucketSeconds = 3600L)
        .orderBy("user_id", "bucket_s")
    },

    // state_agg + duration_in per time_bucket: per-(user, state, hour)
    // held milliseconds with LOCF state segments split exactly across
    // bucket edges — the same segment-split machinery as
    // x_time_weight_bucketed, re-derived by the oracle via generate_series
    "x_state_timeline" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .stateDurationBucketed(events(s, dir), Seq("user_id"), "ts", "event_type", bucketSeconds = 3600L)
        .orderBy("user_id", "state", "bucket_s")
    },

    // rollup(state_agg): daily durations re-aggregated from the STORED
    // hourly timeline (ms sums add; the oracle reproduces the same
    // truncate-hourly-then-sum semantics a consumer of the stored rollup
    // gets — hour edges nest inside day edges, so no re-splitting) plus
    // the active-hours count per (key, state, day).
    "x_state_rollup" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .stateDurationBucketed(events(s, dir), Seq("user_id"), "ts", "event_type", bucketSeconds = 3600L)
        .withColumn("day_s", expr("(bucket_s div 86400) * 86400"))
        .groupBy("user_id", "state", "day_s")
        .agg(sum(col("dur_ms")).as("dur_ms"), count(lit(1)).as("n_active_hours"))
        .orderBy("user_id", "state", "day_s")
    },

    // Timescale's transparent real-time-aggregate rewrite, computed
    // THROUGH the optimizer rule: the daily query is written against RAW
    // events, RollupRewrite serves it from the materialized hourly rollup
    // (require() hard-fails the gate if the rewrite did not fire), and
    // the oracle aggregates the raw table directly — hash equality pins
    // that the rewrite is invisible to results. Registration is scoped:
    // the gate materializes its output, then clears the registry so no
    // other gate's plan is touched.
    "x_rollup_rewrite" -> { (s, dir) =>
      import graft.plans.RollupRewrite
      RollupRewrite.clear()
      // try/finally: a failed require (or write) must not leak the live
      // registration + optimizer rule into every later gate on the shared
      // session — any aggregate that happened to match the shape would be
      // silently served from this gate's temp rollup.
      try {
        val raw = events(s, dir)
        val m = floor(col("value") * 10000 + 0.5).cast("long")
        val tmp = java.nio.file.Files.createTempDirectory("graft-rollup-gate").toString
        RollupRewrite.buildRollup(raw, Seq("event_type"), "ts", m, "hour")
          .write.mode("overwrite").parquet(tmp)
        val rollup = s.read.parquet(tmp)
        RollupRewrite.register("events_hourly_gate", RollupRewrite.Spec(
          raw.inputFiles.toSet, rollup.queryExecution.analyzed, Seq("event_type"), "ts", "hour",
          RollupRewrite.canonicalMeasure(raw, m)))
        RollupRewrite.install(s)
        // avg is served through the sum_e/cnt_e decomposition; hashed as
        // e6 fixed-point from sum/cnt doubles both engines compute from
        // the same exact integers (one correctly-rounded IEEE division)
        val q = raw
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
          .agg(
            count(lit(1)).as("n"), sum(m).as("sum_e4"),
            min(m).as("min_e4"), max(m).as("max_e4"),
            floor(avg(m) * 1000000.0 + 0.5).cast("long").as("avg_e4e6"))
          .select(col("event_type"), expr("unix_seconds(d)").as("day_s"),
            col("n"), col("sum_e4"), col("min_e4"), col("max_e4"), col("avg_e4e6"))
          .orderBy("event_type", "day_s")
        val physical = q.queryExecution.executedPlan.toString
        require(physical.contains(new java.io.File(tmp).getName),
          "rollup rewrite did not fire for the gate query")
        val out = java.nio.file.Files.createTempDirectory("graft-rollup-gate-out").toString
        q.write.mode("overwrite").parquet(out)
        s.read.parquet(out).orderBy("event_type", "day_s")
      } finally RollupRewrite.clear()
    },

    // REAL-TIME continuous aggregate (Timescale materialized_only=false):
    // slice A of events is materialized+registered as the hourly rollup,
    // slice B's files are appended to the raw table AFTER registration,
    // and the daily aggregate over the grown table must be served as
    // rollup UNION partial-aggregate(tail files only) — verified against
    // the raw-data DuckDB oracle over ALL events (the same SQL as
    // x_rollup_rewrite; the two slices reunite). The tail-only-scan
    // property is pinned in RollupRewriteSpec; here the require pins
    // that the rewrite actually fired.
    "x_rollup_realtime" -> { (s, dir) =>
      import graft.plans.RollupRewrite
      RollupRewrite.clear()
      try {
        val ev = events(s, dir).select("event_id", "ts", "event_type", "value")
        val rawDir =
          java.nio.file.Files.createTempDirectory("graft-rt-raw").toString + "/raw"
        ev.where(col("event_id") % 4 =!= 0).coalesce(2).write.parquet(rawDir)
        val rawA = s.read.parquet(rawDir)
        val m = floor(col("value") * 10000 + 0.5).cast("long")
        val tmp = java.nio.file.Files.createTempDirectory("graft-rt-rollup").toString
        RollupRewrite.buildRollup(rawA, Seq("event_type"), "ts", m, "hour")
          .write.mode("overwrite").parquet(tmp)
        val rollup = s.read.parquet(tmp)
        RollupRewrite.register("events_hourly_rt_gate", RollupRewrite.Spec(
          rawA.inputFiles.toSet, rollup.queryExecution.analyzed,
          Seq("event_type"), "ts", "hour",
          RollupRewrite.canonicalMeasure(rawA, m),
          measureExpr = Some(RollupRewrite.resolvedMeasure(rawA, m)),
          realtime = true))
        RollupRewrite.install(s)
        ev.where(col("event_id") % 4 === 0).coalesce(1)
          .write.mode("append").parquet(rawDir)
        val rawAB = s.read.parquet(rawDir)
        val q = rawAB
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
          .agg(
            count(lit(1)).as("n"), sum(m).as("sum_e4"),
            min(m).as("min_e4"), max(m).as("max_e4"),
            floor(avg(m) * 1000000.0 + 0.5).cast("long").as("avg_e4e6"))
          .select(col("event_type"), expr("unix_seconds(d)").as("day_s"),
            col("n"), col("sum_e4"), col("min_e4"), col("max_e4"), col("avg_e4e6"))
          .orderBy("event_type", "day_s")
        require(q.queryExecution.executedPlan.toString
          .contains(new java.io.File(tmp).getName),
          "real-time rollup rewrite did not fire for the gate query")
        val out =
          java.nio.file.Files.createTempDirectory("graft-rt-gate-out").toString
        q.write.mode("overwrite").parquet(out)
        s.read.parquet(out).orderBy("event_type", "day_s")
      } finally RollupRewrite.clear()
    },

    // The same real-time rewrite over a HIVE-PARTITIONED raw table — the
    // 100 TB layout (a time-partitioned hypertable). The tail leg cannot
    // re-list leaf files through a fresh InMemoryFileIndex (that loses
    // the partition VALUES); it restricts the query's own index to the
    // un-materialized allowlist (plans.FilteredFileIndex), so partition
    // columns and partition pruning survive. Same raw-data oracle: the
    // partitioned slices reunite to ALL events.
    "x_rollup_realtime_part" -> { (s, dir) =>
      import graft.plans.RollupRewrite
      RollupRewrite.clear()
      try {
        val ev = events(s, dir)
          .select("event_id", "ts", "event_type", "value")
          .withColumn("pday", to_date(col("ts")))
        val rawDir =
          java.nio.file.Files.createTempDirectory("graft-rtp-raw").toString + "/raw"
        ev.where(col("event_id") % 4 =!= 0).write.partitionBy("pday").parquet(rawDir)
        val rawA = s.read.parquet(rawDir)
        val m = floor(col("value") * 10000 + 0.5).cast("long")
        val tmp = java.nio.file.Files.createTempDirectory("graft-rtp-rollup").toString
        RollupRewrite.buildRollup(rawA, Seq("event_type"), "ts", m, "hour")
          .write.mode("overwrite").parquet(tmp)
        val rollup = s.read.parquet(tmp)
        RollupRewrite.register("events_hourly_rtp_gate", RollupRewrite.Spec(
          rawA.inputFiles.toSet, rollup.queryExecution.analyzed,
          Seq("event_type"), "ts", "hour",
          RollupRewrite.canonicalMeasure(rawA, m),
          measureExpr = Some(RollupRewrite.resolvedMeasure(rawA, m)),
          realtime = true))
        RollupRewrite.install(s)
        ev.where(col("event_id") % 4 === 0)
          .write.partitionBy("pday").mode("append").parquet(rawDir)
        val rawAB = s.read.parquet(rawDir)
        val q = rawAB
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
          .agg(
            count(lit(1)).as("n"), sum(m).as("sum_e4"),
            min(m).as("min_e4"), max(m).as("max_e4"),
            floor(avg(m) * 1000000.0 + 0.5).cast("long").as("avg_e4e6"))
          .select(col("event_type"), expr("unix_seconds(d)").as("day_s"),
            col("n"), col("sum_e4"), col("min_e4"), col("max_e4"), col("avg_e4e6"))
          .orderBy("event_type", "day_s")
        require(q.queryExecution.executedPlan.toString
          .contains(new java.io.File(tmp).getName),
          "partitioned real-time rollup rewrite did not fire for the gate query")
        val out =
          java.nio.file.Files.createTempDirectory("graft-rtp-gate-out").toString
        q.write.mode("overwrite").parquet(out)
        s.read.parquet(out).orderBy("event_type", "day_s")
      } finally RollupRewrite.clear()
    },

    // The dashboard shape THROUGH the rewrite: WHERE key-filter AND
    // bucket-aligned half-open ts range, GROUP BY day — served from the
    // hourly rollup (key predicates re-root onto rollup keys; aligned
    // bounds become bucket_ts bounds, exact because bucket membership
    // and row membership coincide at aligned boundaries). Oracle runs
    // the identical filtered aggregate on raw events in DuckDB.
    "x_rollup_where" -> { (s, dir) =>
      import graft.plans.RollupRewrite
      RollupRewrite.clear()
      try {
        val raw = events(s, dir)
        val m = floor(col("value") * 10000 + 0.5).cast("long")
        val tmp = java.nio.file.Files.createTempDirectory("graft-where-rollup").toString
        RollupRewrite.buildRollup(raw, Seq("event_type"), "ts", m, "hour")
          .write.mode("overwrite").parquet(tmp)
        val rollup = s.read.parquet(tmp)
        RollupRewrite.register("events_hourly_where_gate", RollupRewrite.Spec(
          raw.inputFiles.toSet, rollup.queryExecution.analyzed,
          Seq("event_type"), "ts", "hour",
          RollupRewrite.canonicalMeasure(raw, m)))
        RollupRewrite.install(s)
        val q = raw
          .where(col("event_type").isin("click", "view", "purchase") &&
            col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
            col("ts") < lit("2024-01-25 00:00:00").cast("timestamp"))
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
          .agg(
            count(lit(1)).as("n"), sum(m).as("sum_e4"),
            min(m).as("min_e4"), max(m).as("max_e4"),
            min_by(m, col("ts")).as("open_e4"))
          .select(col("event_type"), expr("unix_seconds(d)").as("day_s"),
            col("n"), col("sum_e4"), col("min_e4"), col("max_e4"), col("open_e4"))
          .orderBy("event_type", "day_s")
        require(q.queryExecution.executedPlan.toString
          .contains(new java.io.File(tmp).getName),
          "WHERE-filtered rollup rewrite did not fire for the gate query")
        val out = java.nio.file.Files.createTempDirectory("graft-where-out").toString
        q.write.mode("overwrite").parquet(out)
        s.read.parquet(out).orderBy("event_type", "day_s")
      } finally RollupRewrite.clear()
    },

    // The FULL Timescale continuous-aggregate loop in one gate: a
    // structured stream incrementally maintains the hourly rollup state
    // table (CdcStream.rollupMaintain — replace-by-key upserts of the
    // servable buildRollup schema), the drained state parquet registers
    // directly with the optimizer rewrite, files appended AFTER the
    // drain are answered by the real-time tail, and the daily raw-table
    // query — count/sum/min/max AND first/last via the OHLC partials —
    // must hash-match the DuckDB aggregate over ALL events. Maintenance
    // by stream, serving by optimizer: materialized_only=false
    // end-to-end.
    "x_rollup_serve_stream" -> { (s, dir) =>
      import graft.plans.RollupRewrite
      import graft.streaming.CdcStream
      import org.apache.spark.sql.streaming.Trigger
      RollupRewrite.clear()
      try {
        val ev = events(s, dir).select("event_id", "ts", "event_type", "value")
        val base = java.nio.file.Files.createTempDirectory("graft-caggserve").toString
        val rawDir = s"$base/raw"
        val m = floor(col("value") * 10000 + 0.5).cast("long")
        ev.where(col("event_id") % 4 =!= 0).coalesce(2).write.parquet(rawDir)
        val rawA = s.read.parquet(rawDir)
        // gate-wide shuffle width (restored on exit):
        // besides the streaming leg's per-partition state stores, the
        // SERVE query and its materializing write run inside this gate
        // too — r10 scoped the narrow width to the stream only and left
        // the serve legs paying 32-way task setup over a few hundred
        // rollup rows
        withConf(s, "spark.sql.shuffle.partitions" -> "8") {
          val q = CdcStream.rollupMaintain(
            s.readStream.schema(rawA.schema).parquet(rawDir),
            "ts", "1 hour", "90 days", Seq("event_type"),
            floor(col("value") * 10000 + 0.5).cast("long"),
            s"$base/state", s"$base/ckpt", Trigger.AvailableNow())
          q.awaitTermination()
          val rollup = s.read.parquet(s"$base/state")
          RollupRewrite.register("events_cagg_stream", RollupRewrite.Spec(
            rawA.inputFiles.toSet, rollup.queryExecution.analyzed,
            Seq("event_type"), "ts", "hour",
            RollupRewrite.canonicalMeasure(rawA, m),
            measureExpr = Some(RollupRewrite.resolvedMeasure(rawA, m))))
          RollupRewrite.install(s)
          ev.where(col("event_id") % 4 === 0).coalesce(1)
            .write.mode("append").parquet(rawDir)
          val rawAB = s.read.parquet(rawDir)
          val q2 = rawAB
            .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
            .agg(
              count(lit(1)).as("n"), sum(m).as("sum_e4"),
              min(m).as("min_e4"), max(m).as("max_e4"),
              min_by(m, col("ts")).as("open_e4"),
              max_by(m, col("ts")).as("close_e4"))
            .select(col("event_type"), expr("unix_seconds(d)").as("day_s"),
              col("n"), col("sum_e4"), col("min_e4"), col("max_e4"),
              col("open_e4"), col("close_e4"))
            .orderBy("event_type", "day_s")
          // the base temp name also appears in the raw/tail paths, so
          // assert specifically that a scan of the STATE table is present
          val servedFromState = q2.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation
                if l.relation.asInstanceOf[
                  org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                  .location.inputFiles.exists(_.contains(s"${new java.io.File(base).getName}/state")) => l
          }
          require(servedFromState.nonEmpty,
            "stream-maintained rollup was not served by the rewrite")
          val out = java.nio.file.Files.createTempDirectory("graft-caggserve-out").toString
          q2.write.mode("overwrite").parquet(out)
          s.read.parquet(out).orderBy("event_type", "day_s")
        }
      } finally RollupRewrite.clear()
    },

    // Streaming continuous aggregate with MERGEABLE SKETCH state —
    // percentile_agg inside a cagg: hourly t-digest partials maintained
    // across micro-batches (multi-file first run, then a checkpoint
    // RESTART folding a third chunk in), rolled to daily via
    // tdigest_merge_agg at serve time. Counts are exact across any
    // batching (n + the n_exact boolean pin streamed == raw); digest
    // estimates gate as rank-bound booleans (3% + 2/n — the
    // x_percentile_tdigest idiom), never digest bytes (t-digest merge is
    // order-dependent within the bound by construction).
    "x_sketch_rollup_stream" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.CdcStream
      import graft.functions.GraftFunctions._
      GraftFunctions.register(s)
      val ev = events(s, dir).where(col("value").isNotNull)
        .select("event_id", "ts", "event_type", "value")
      val base = java.nio.file.Files.createTempDirectory("graft-sketchcagg").toString
      val rawDir = s"$base/raw"
      ev.where(col("event_id") % 4 =!= 0).coalesce(2).write.parquet(rawDir)
      val schema = s.read.parquet(rawDir).schema
      def runOnce(): Unit = {
        val q = CdcStream.sketchRollupMaintain(
          s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(rawDir),
          "ts", 3600L, Seq("event_type"), "value",
          s"$base/state", s"$base/ckpt", Trigger.AvailableNow())
        q.awaitTermination()
      }
      // gate-scoped shuffle width (the x_scd2_stream idiom): per-batch
      // sketch merges over a few hundred buckets don't need 32-way tasks
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        runOnce()
        ev.where(col("event_id") % 4 === 0).coalesce(1).write.mode("append").parquet(rawDir)
        runOnce()
        val state = s.read.parquet(s"$base/state")
        val daily = state
          .groupBy(col("event_type"), date_trunc("day", col("bucket_ts")).as("d"))
          .agg(sum(col("n")).as("n_stream"), tdigest_merge_agg(col("sk")).as("msk"))
          .select(col("event_type"), col("d"), col("n_stream"),
            tdigest_quantile(col("msk"), 0.5).as("m50"),
            tdigest_quantile(col("msk"), 0.95).as("m95"))
        val ranked = ev.withColumn("d", date_trunc("day", col("ts")))
          .join(broadcast(daily), Seq("event_type", "d"))
          .groupBy("event_type", "d")
          .agg(count(lit(1)).as("n"),
            sum((col("value") <= col("m50")).cast("long")).as("le_m50"),
            sum((col("value") <= col("m95")).cast("long")).as("le_m95"),
            first(col("n_stream")).as("n_stream"))
        val exact = ev
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
          .agg(expr("percentile(value, 0.5)").as("e50"),
            expr("percentile(value, 0.95)").as("e95"))
        val rankOk = (le: String, p: Double) =>
          abs(col(le).cast("double") / col("n").cast("double") - p) <=
            lit(0.03) + lit(2.0) / col("n").cast("double")
        val out = java.nio.file.Files.createTempDirectory("graft-sketchcagg-out").toString
        exact.join(ranked, Seq("event_type", "d"))
          .select(
            col("event_type"),
            expr("unix_seconds(d)").as("day_s"),
            col("n"),
            (col("n_stream") === col("n")).as("n_exact"),
            round(col("e50"), 4).as("p50_exact"),
            round(col("e95"), 4).as("p95_exact"),
            rankOk("le_m50", 0.5).as("m50_rank_ok"),
            rankOk("le_m95", 0.95).as("m95_rank_ok"))
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out).orderBy("event_type", "day_s")
      }
    },

    // Candlestick open/close THROUGH the transparent rewrite —
    // Timescale's first()/last() served from a continuous aggregate: the
    // daily min_by/max_by(measure, ts) and min/max(ts) over RAW events
    // are answered from the hourly rollup's (argmin-ts, value) partials
    // (buckets occupy disjoint time ranges, so cross-bucket argmin is
    // the bucket with the smallest ts_open). Decomposition exactness
    // rides on the corpus's per-(event_type, hour) ts uniqueness — the
    // same pin the x_candlestick gate already relies on. Oracle:
    // arg_min/arg_max over the raw table in DuckDB.
    "x_rollup_ohlc" -> { (s, dir) =>
      import graft.plans.RollupRewrite
      RollupRewrite.clear()
      try {
        val raw = events(s, dir)
        val m = floor(col("value") * 10000 + 0.5).cast("long")
        val tmp = java.nio.file.Files.createTempDirectory("graft-ohlc-rollup").toString
        RollupRewrite.buildRollup(raw, Seq("event_type"), "ts", m, "hour")
          .write.mode("overwrite").parquet(tmp)
        val rollup = s.read.parquet(tmp)
        RollupRewrite.register("events_hourly_ohlc_gate", RollupRewrite.Spec(
          raw.inputFiles.toSet, rollup.queryExecution.analyzed,
          Seq("event_type"), "ts", "hour",
          RollupRewrite.canonicalMeasure(raw, m)))
        RollupRewrite.install(s)
        val q = raw
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
          .agg(
            min_by(m, col("ts")).as("open_e4"),
            max_by(m, col("ts")).as("close_e4"),
            unix_micros(min(col("ts"))).as("first_us"),
            unix_micros(max(col("ts"))).as("last_us"),
            count(lit(1)).as("n"))
          .select(col("event_type"), expr("unix_seconds(d)").as("day_s"),
            col("open_e4"), col("close_e4"), col("first_us"), col("last_us"), col("n"))
          .orderBy("event_type", "day_s")
        require(q.queryExecution.executedPlan.toString
          .contains(new java.io.File(tmp).getName),
          "OHLC rollup rewrite did not fire for the gate query")
        val out = java.nio.file.Files.createTempDirectory("graft-ohlc-out").toString
        q.write.mode("overwrite").parquet(out)
        s.read.parquet(out).orderBy("event_type", "day_s")
      } finally RollupRewrite.clear()
    },

    // percentile_agg SERVED FROM the continuous aggregate — the rewrite
    // answers tdigest_agg/udd_sketch_agg of the registered sketch
    // measure by MERGING the rollup's per-bucket states (sk_td/sk_udd)
    // instead of rescanning raw rows; the require pins that the served
    // plan reads the rollup files. UDDSketch merge is bit-exact, so the
    // served quantile must EQUAL the direct raw-aggregate quantile
    // (computed with the rule cleared) — an exact boolean; t-digest
    // serve gates as rank-bound booleans vs the exact corpus ranks.
    "x_rollup_sketch_serve" -> { (s, dir) =>
      import graft.plans.RollupRewrite
      import graft.functions.GraftFunctions._
      GraftFunctions.register(s)
      RollupRewrite.clear()
      try {
        val raw = events(s, dir)
        val m = floor(col("value") * 10000 + 0.5).cast("long")
        val sm = col("value").cast("double")
        val tmp = java.nio.file.Files.createTempDirectory("graft-sketch-rollup").toString
        RollupRewrite.buildSketchRollup(raw, Seq("event_type"), "ts", m, sm, "hour")
          .write.mode("overwrite").parquet(tmp)
        val rollup = s.read.parquet(tmp)
        RollupRewrite.register("events_sketch_serve_gate", RollupRewrite.Spec(
          raw.inputFiles.toSet, rollup.queryExecution.analyzed,
          Seq("event_type"), "ts", "hour",
          RollupRewrite.canonicalMeasure(raw, m),
          sketchSql = Some(RollupRewrite.canonicalMeasure(raw, sm))))
        RollupRewrite.install(s)
        def percentiles(df: DataFrame): DataFrame = df
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
          .agg(
            count(lit(1)).as("n"),
            // count of the registered MEASURE — served as sum(cnt_e);
            // equals count(value) since the measure is null iff value is
            count(m).as("n_nn"),
            tdigest_quantile(tdigest_agg(col("value").cast("double")), 0.5).as("td50"),
            tdigest_quantile(tdigest_agg(col("value").cast("double")), 0.95).as("td95"),
            udd_quantile(udd_sketch_agg(col("value").cast("double")), 0.5).as("ud50"),
            udd_quantile(udd_sketch_agg(col("value").cast("double")), 0.95).as("ud95"))
        val servedQ = percentiles(raw)
        require(servedQ.queryExecution.executedPlan.toString
          .contains(new java.io.File(tmp).getName),
          "sketch rollup rewrite did not fire for the gate query")
        val outServed = java.nio.file.Files.createTempDirectory("graft-sketch-served").toString
        servedQ.write.mode("overwrite").parquet(outServed)
        RollupRewrite.clear()
        val outDirect = java.nio.file.Files.createTempDirectory("graft-sketch-direct").toString
        percentiles(raw).write.mode("overwrite").parquet(outDirect)
        val served = s.read.parquet(outServed)
        val direct = s.read.parquet(outDirect)
          .select(col("event_type"), col("d"),
            col("ud50").as("dud50"), col("ud95").as("dud95"))
        val ranked = raw.where(col("value").isNotNull)
          .withColumn("d", date_trunc("day", col("ts")))
          .join(broadcast(served.select("event_type", "d", "td50", "td95")),
            Seq("event_type", "d"))
          .groupBy("event_type", "d")
          .agg(
            sum((col("value") <= col("td50")).cast("long")).as("le_td50"),
            sum((col("value") <= col("td95")).cast("long")).as("le_td95"))
        val rankOk = (le: String, p: Double) =>
          abs(col(le).cast("double") / col("n_nn").cast("double") - p) <=
            lit(0.03) + lit(2.0) / col("n_nn").cast("double")
        served
          .join(direct, Seq("event_type", "d"))
          .join(ranked, Seq("event_type", "d"))
          .select(
            col("event_type"),
            expr("unix_seconds(d)").as("day_s"),
            col("n"),
            col("n_nn"),
            (col("ud50") === col("dud50")).as("udd50_served_exact"),
            (col("ud95") === col("dud95")).as("udd95_served_exact"),
            rankOk("le_td50", 0.5).as("td50_rank_ok"),
            rankOk("le_td95", 0.95).as("td95_rank_ok"))
          .orderBy("event_type", "day_s")
      } finally RollupRewrite.clear()
    },

    // Timescale saturating int32 arithmetic over deterministic full-range
    // operands (an LCG spread over the whole i32 domain, so add/sub/mul
    // genuinely overflow): clamp-at-bounds instead of wrap, _pos forms
    // floored at 0 — the identical LONG-clamp-narrow formula runs in the
    // oracle
    "x_saturating" -> { (s, dir) =>
      import graft.functions.GraftFunctions._
      val ev = events(s, dir)
        .withColumn("a", (pmod(col("event_id") * 48271L, lit(4294967296L)) - 2147483648L).cast("int"))
        .withColumn("b", (pmod(col("event_id") * 69621L + 12345L, lit(4294967296L)) - 2147483648L).cast("int"))
      ev.select(
        col("event_id"), col("a"), col("b"),
        saturating_add(col("a"), col("b")).as("s_add"),
        saturating_sub(col("a"), col("b")).as("s_sub"),
        saturating_mul(col("a"), col("b")).as("s_mul"),
        saturating_add_pos(col("a"), col("b")).as("s_add_pos"),
        saturating_sub_pos(col("a"), col("b")).as("s_sub_pos"))
        .orderBy("event_id")
    },

    // percentile_agg + rollup(approx_percentile): hourly UDDSketch states
    // merge to daily by per-bucket addition — the percentile twin of
    // x_rollup_distinct. With no collapse pass the merged state is
    // bit-identical regardless of merge order, so merge-associativity is
    // gated as EXACT estimate equality; accuracy vs the exact percentile
    // rides the same oracle-fixed-TRUE boolean idiom, and the exact p50/
    // p95 columns themselves hash-match quantile_cont (the x_quantiles
    // bit-parity). γ=1.02 ⇒ ~1% relative value error; the bound below is
    // 5% + 0.5 absolute to absorb discrete-rank vs interpolation drift.
    "x_percentile_rollup" -> { (s, dir) =>
      import graft.functions.GraftFunctions._
      val ev = events(s, dir).where(col("value").isNotNull)
      val hourly = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(udd_sketch_agg(col("value")).as("sk"))
      val merged = hourly
        .groupBy(col("event_type"), date_trunc("day", col("h")).as("d"))
        .agg(udd_merge_agg(col("sk")).as("msk"))
        .select(col("event_type"), col("d"),
          udd_quantile(col("msk"), 0.5).as("m50"), udd_quantile(col("msk"), 0.95).as("m95"))
      val direct = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(udd_sketch_agg(col("value")).as("dsk"))
        .select(col("event_type"), col("d"),
          udd_quantile(col("dsk"), 0.5).as("d50"), udd_quantile(col("dsk"), 0.95).as("d95"))
      val exact = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(expr("percentile(value, 0.5)").as("e50"), expr("percentile(value, 0.95)").as("e95"))
      // the sketch's own yardstick is the DISCRETE quantile (the value at
      // rank ⌈p·n⌉ — the γ-bound holds vs THAT value, not the interpolated
      // quantile_cont, whose gap to the nearest order stat dwarfs α on
      // sparse tails): one key-partitioned rank pick per cell
      val cellW = Window.partitionBy(col("event_type"), col("d"))
      val disc = ev
        .withColumn("d", date_trunc("day", col("ts")))
        .withColumn("rn", row_number().over(cellW.orderBy(col("value"))))
        .withColumn("cnt", count(lit(1)).over(cellW))
        .groupBy(col("event_type"), col("d"))
        .agg(
          max(when(col("rn") === ceil(col("cnt") * 0.5), col("value"))).as("e50d"),
          max(when(col("rn") === ceil(col("cnt") * 0.95), col("value"))).as("e95d"))
      exact
        .join(merged, Seq("event_type", "d"))
        .join(direct, Seq("event_type", "d"))
        .join(disc, Seq("event_type", "d"))
        .select(
          col("event_type"),
          expr("unix_seconds(d)").as("day_s"),
          round(col("e50"), 4).as("p50_exact"),
          round(col("e95"), 4).as("p95_exact"),
          (col("m50") === col("d50") && col("m95") === col("d95")).as("merge_associative"),
          // 5% relative + 0.5 absolute, per the contract comment above:
          // the absolute term keeps near-zero discrete percentiles (where
          // a pure relative bound would demand exact equality of a
          // γ-bucket midpoint) from failing spuriously on other corpora
          (abs(col("m50") - col("e50d")) <= abs(col("e50d")) * 0.05 + 0.5).as("p50_close"),
          (abs(col("m95") - col("e95d")) <= abs(col("e95d")) * 0.05 + 0.5).as("p95_close"))
        .orderBy("event_type", "day_s")
    },

    // t-digest percentile twin — the OTHER quantile-sketch trade-off
    // pinned beside x_percentile_rollup's UDDSketch (Timescale ships
    // both): rank-space adaptive clusters, ≤ ~2δ centroids regardless
    // of value range, merge order-DEPENDENT within the documented rank
    // bound — never bit-exact, which is structural (cluster boundaries
    // depend on merge history), so the gate pins exact anchors (n,
    // interpolated p50/p95 — the x_quantiles bit-parity) plus
    // oracle-fixed-TRUE rank-error booleans: the EXACT corpus rank of
    // each estimate — merged hourly→daily AND direct daily — must sit
    // within 3% + 2/n of the requested p (k1-scale worst case ≈ π/δ ≈
    // 3.1% at the median; typical ≪ 1%). Ranks are exact integer
    // counts from one broadcast of the tiny estimate table.
    "x_percentile_tdigest" -> { (s, dir) =>
      import graft.functions.GraftFunctions._
      val ev = events(s, dir).where(col("value").isNotNull)
      val hourly = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(tdigest_agg(col("value")).as("sk"))
      val merged = hourly
        .groupBy(col("event_type"), date_trunc("day", col("h")).as("d"))
        .agg(tdigest_merge_agg(col("sk")).as("msk"))
        .select(col("event_type"), col("d"),
          tdigest_quantile(col("msk"), 0.5).as("m50"),
          tdigest_quantile(col("msk"), 0.95).as("m95"))
      val direct = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(tdigest_agg(col("value")).as("dsk"))
        .select(col("event_type"), col("d"),
          tdigest_quantile(col("dsk"), 0.5).as("d50"),
          tdigest_quantile(col("dsk"), 0.95).as("d95"))
      val est = merged.join(direct, Seq("event_type", "d"))
      val ranked = ev
        .withColumn("d", date_trunc("day", col("ts")))
        .join(broadcast(est), Seq("event_type", "d"))
        .groupBy("event_type", "d")
        .agg(
          count(lit(1)).as("n"),
          sum((col("value") <= col("m50")).cast("long")).as("le_m50"),
          sum((col("value") <= col("m95")).cast("long")).as("le_m95"),
          sum((col("value") <= col("d50")).cast("long")).as("le_d50"),
          sum((col("value") <= col("d95")).cast("long")).as("le_d95"))
      val exact = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(
          expr("percentile(value, 0.5)").as("e50"),
          expr("percentile(value, 0.95)").as("e95"))
      val rankOk = (le: String, p: Double) =>
        abs(col(le).cast("double") / col("n").cast("double") - p) <=
          lit(0.03) + lit(2.0) / col("n").cast("double")
      exact
        .join(ranked, Seq("event_type", "d"))
        .select(
          col("event_type"),
          expr("unix_seconds(d)").as("day_s"),
          col("n"),
          round(col("e50"), 4).as("p50_exact"),
          round(col("e95"), 4).as("p95_exact"),
          rankOk("le_m50", 0.5).as("m50_rank_ok"),
          rankOk("le_m95", 0.95).as("m95_rank_ok"),
          rankOk("le_d50", 0.5).as("d50_rank_ok"),
          rankOk("le_d95", 0.95).as("d95_rank_ok"))
        .orderBy("event_type", "day_s")
    },

    // approx_percentile_rank — the UDDSketch inverse accessor: fraction
    // of values ≤ x. The exact per-probe counts are the hash anchor
    // (DuckDB recomputes them independently); the sketch's rank estimate
    // gates as oracle-fixed TRUE booleans — within 5 % of the exact
    // fraction at each probe (the γ-bucket-mass bound, generous for a
    // smooth distribution), and the quantile→rank round trip covers ≥ p
    // structurally (the rank walk includes the quantile's whole bucket).
    "x_percentile_rank" -> { (s, dir) =>
      import graft.functions.GraftFunctions._
      val ev = events(s, dir).where(col("value").isNotNull)
      val probes = Seq(10.0, 50.0, 100.0, 250.0)
      val aggCols: Seq[Column] =
        count(lit(1)).as("n") +: probes.map(p =>
          sum(when(col("value") <= p, 1L).otherwise(0L)).as(s"le_${p.toInt}"))
      val agg = ev
        .groupBy(col("event_type"))
        .agg(udd_sketch_agg(col("value")).as("sk"), aggCols: _*)
      val checks = probes.flatMap { p =>
        val exactFrac = col(s"le_${p.toInt}").cast("double") / col("n").cast("double")
        Seq(
          col(s"le_${p.toInt}"),
          (abs(udd_rank(col("sk"), lit(p)) - exactFrac) <= 0.05).as(s"rank_${p.toInt}_close"))
      }
      agg
        .select(
          (col("event_type") +: col("n") +: checks) :+
            (udd_rank(col("sk"), udd_quantile(col("sk"), 0.5)) >= 0.5).as("roundtrip_covers"): _*)
        .orderBy("event_type")
    },

    // approx_percentile_rank through the t-digest — the rank-space twin
    // of x_percentile_rank, read through BOTH the direct digest and the
    // hourly→merged rollup digest (rank must survive the re-compression
    // merge is allowed to do). Exact per-probe counts are the hash
    // anchor; the sketch ranks gate as oracle-fixed TRUE booleans within
    // 0.05 of the exact fraction (generous vs the ~4·q(1−q)/δ rank
    // bound at δ=100). The quantile→rank round trip pins the two
    // accessors as linear inverses: between distinct centroid means the
    // interpolations cancel exactly, so 0.01 absorbs only the
    // equal-mean / extreme-clamp edges.
    "x_tdigest_rank" -> { (s, dir) =>
      import graft.functions.GraftFunctions._
      GraftFunctions.register(s)
      val ev = events(s, dir).where(col("value").isNotNull)
      val probes = Seq(10.0, 50.0, 100.0, 250.0)
      val aggCols: Seq[Column] =
        count(lit(1)).as("n") +: probes.map(p =>
          sum(when(col("value") <= p, 1L).otherwise(0L)).as(s"le_${p.toInt}"))
      val direct = ev
        .groupBy(col("event_type"))
        .agg(tdigest_agg(col("value")).as("sk"), aggCols: _*)
      val merged = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(tdigest_agg(col("value")).as("hsk"))
        .groupBy(col("event_type"))
        .agg(tdigest_merge_agg(col("hsk")).as("msk"))
      val checks = probes.flatMap { p =>
        val exactFrac = col(s"le_${p.toInt}").cast("double") / col("n").cast("double")
        Seq(
          col(s"le_${p.toInt}"),
          (abs(tdigest_rank(col("sk"), lit(p)) - exactFrac) <= 0.05).as(s"rank_${p.toInt}_close"),
          (abs(tdigest_rank(col("msk"), lit(p)) - exactFrac) <= 0.05).as(s"mrank_${p.toInt}_close"))
      }
      direct
        .join(merged, Seq("event_type"))
        .select(
          (col("event_type") +: col("n") +: checks) :+
            (abs(tdigest_rank(col("sk"), tdigest_quantile(col("sk"), 0.5)) - 0.5) <= 0.01)
              .as("roundtrip_inverse"): _*)
        .orderBy("event_type")
    },

    // the continuous-aggregate form of time_weight: hourly buckets, LOCF
    // segments SPLIT across the bucket edges they span (overlap-µs × e4
    // exact-long products, one division per output row) — the boundary
    // interpolation a naive per-bucket grouping gets wrong; oracle
    // re-derives the identical segment split via generate_series
    "x_time_weight_bucketed" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .timeWeightedBucketed(events(s, dir), Seq("user_id"), "ts", "value", bucketSeconds = 3600L)
        .orderBy("user_id", "bucket_s")
    },

    // rollup(candlestick_agg): the daily OHLC derived from the HOURLY
    // candles (open of earliest child, close of latest, nested high/low,
    // summed trades/volume) must hash-match the daily OHLC the oracle
    // builds directly from raw events — the exact-decomposition claim,
    // x_rollup_hierarchy's pattern for the pick-based aggregate family
    "x_candlestick_rollup" -> { (s, dir) =>
      val hourly = graft.operators.TsAnalytics
        .candlestick(events(s, dir), Seq("event_type"), "ts", "value", bucket = "hour")
      graft.operators.TsAnalytics
        .rerollupCandlestick(hourly, Seq("event_type"), bucket = "day")
        .withColumn("bucket_s", expr("unix_seconds(bucket_ts)"))
        .drop("bucket_ts")
        .orderBy("event_type", "bucket_s")
    },

    // Timescale heartbeat_agg with a 600 s liveness window over each
    // user's event stream: uptime/downtime in exact µs sums, one final
    // div to ms.
    "x_heartbeat_agg" -> { (s, dir) =>
      graft.operators.TsAnalytics
        .heartbeatAgg(events(s, dir), Seq("user_id"), "ts", livenessS = 600L)
        .orderBy("user_id")
    },

    // Hierarchical continuous aggregate (Timescale cagg-on-cagg): the
    // DAILY level is derived from the HOURLY bucketRollup — never from raw
    // events — while the oracle aggregates the raw table straight to daily
    // (n_child = distinct hours). Hash equality pins the decomposition:
    // counts/exact-long sums add, min/max nest, across both levels.
    "x_rollup_hierarchy" -> { (s, dir) =>
      val hourly = graft.operators.TsAnalytics
        .bucketRollup(events(s, dir), Seq("event_type"), "ts", "value", bucket = "hour")
      graft.operators.TsAnalytics
        .rerollup(hourly, Seq("event_type"), bucket = "day")
        // epoch seconds, not a raw timestamp: the compare would otherwise
        // see tz-aware (Spark µs-UTC parquet) vs naive (DuckDB) dtypes
        .withColumn("bucket_s", expr("unix_seconds(bucket_ts)"))
        .drop("bucket_ts")
        .orderBy("event_type", "bucket_s")
    }
  )

  /** DuckDB mirror of Dedup.wordShingles(text, 5) — see that method for the
    * L ≤ n edge (whole text as one shingle).
    */
  private val shingleSql =
    """WITH words AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(w) <= 5 THEN [array_to_string(w, ' ')]
      |         ELSE list_transform(range(0, len(w) - 4), i -> array_to_string(w[i+1:i+5], ' '))
      |    END) AS shingles
      |  FROM words
      |)""".stripMargin

  /** Shared oracle for x_decontam AND x_decontam_bloom: the bloom variant
    * is a prefilter + exact confirm, so both must hash-match this exact
    * overlap SQL. Split CASE = x_split_hash's thresholds.
    */
  private val decontamSql =
    s"""$shingleSql, sp AS (
       |  SELECT doc_id, shingles,
       |         CASE WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
       |              WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM sh
       |), ex AS (
       |  SELECT doc_id, split, unnest(shingles) AS s FROM sp
       |), train AS (
       |  SELECT DISTINCT s FROM ex WHERE split = 'train'
       |)
       |SELECT e.doc_id, e.split,
       |       count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |       round(CAST(sum(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS rate
       |FROM ex e LEFT JOIN train t ON e.s = t.s
       |WHERE e.split <> 'train'
       |GROUP BY e.doc_id, e.split
       |ORDER BY e.doc_id""".stripMargin

  /** Exact all-pairs Jaccard ≥ 0.4 — the ground truth both sketch queries
    * (minhash banding, simhash blocks) must reproduce after their exact
    * verify stage. No df filter: the sketches see every shingle.
    */
  // fuzzy decontamination fully re-derived: train (even) winnowing
  // postings under the train-side df cap, eval (odd + planted edited
  // train copies) fingerprints, per-(eval, train) shared counts at
  // the pairing threshold, per-eval rollup with zero-filled
  // uncontaminated rows. Shared by the inline and stored-index gates.
  private val decontamWinnowSql =
    """WITH trainb AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
      |), evalb AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id + 200000,
      |         array_to_string(w[1:19], ' ') || ' zzedit ' || array_to_string(w[21:], ' ')
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
      |  WHERE doc_id % 10 = 4 AND len(w) >= 30
      |), tw AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM trainb
      |), tsh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) <= 5 THEN [md5(array_to_string(w, ' '))]
      |         ELSE list_transform(range(0, len(w) - 4), i -> md5(array_to_string(w[i+1:i+5], ' ')))
      |    END AS hs
      |  FROM tw
      |), tfp AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')]
      |         ELSE list_transform(range(0, len(hs) - 3), j -> list_aggregate(hs[j+1:j+4], 'min'))
      |    END)) AS fp
      |  FROM tsh
      |), tpost AS (
      |  SELECT doc_id AS train_id, fp FROM tfp
      |  WHERE fp IN (SELECT fp FROM tfp GROUP BY fp HAVING count(*) <= 8)
      |), ew AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM evalb
      |), esh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) <= 5 THEN [md5(array_to_string(w, ' '))]
      |         ELSE list_transform(range(0, len(w) - 4), i -> md5(array_to_string(w[i+1:i+5], ' ')))
      |    END AS hs
      |  FROM ew
      |), efp AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')]
      |         ELSE list_transform(range(0, len(hs) - 3), j -> list_aggregate(hs[j+1:j+4], 'min'))
      |    END)) AS fp
      |  FROM esh
      |), hits AS (
      |  SELECT e.doc_id AS eval_id, t.train_id, count(*) AS shared
      |  FROM efp e JOIN tpost t ON e.fp = t.fp
      |  GROUP BY 1, 2 HAVING count(*) >= 3
      |), per AS (
      |  SELECT eval_id, CAST(count(*) AS BIGINT) AS matched_train_docs,
      |         CAST(max(shared) AS BIGINT) AS max_shared
      |  FROM hits GROUP BY 1
      |)
      |SELECT b.doc_id,
      |       CAST(COALESCE(p.matched_train_docs, 0) AS BIGINT) AS matched_train_docs,
      |       CAST(COALESCE(p.max_shared, 0) AS BIGINT) AS max_shared,
      |       COALESCE(p.matched_train_docs, 0) > 0 AS contaminated
      |FROM evalb b LEFT JOIN per p ON b.doc_id = p.eval_id
      |ORDER BY doc_id""".stripMargin

  private val allPairsJaccardSql =
    s"""$shingleSql, ex AS (
       |  SELECT doc_id, CAST(len(shingles) AS INT) AS sz, unnest(shingles) AS sh FROM sh
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.sz AS size_a, b.sz AS size_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT id_a, id_b,
       |       round(CAST(inter AS DOUBLE) / (size_a + size_b - inter), 4) AS jaccard
       |FROM pairs
       |WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  /** Oracle-side EXPECTED tables for gates whose check DuckDB cannot
    * compute itself. Verify materializes each under
    * `<outDir>.expected/<name>` (a sibling of the dump dir, so the
    * driver's no-oracle scan never mistakes it for a query result) and
    * the matching oracle SQL reads it back via the `{GRAFT_EXPECTED}`
    * placeholder, substituted at dump time. The expected computation must be independent
    * of the code path under test — here: the engine's shingler (itself
    * DuckDB-proven by the md5-portable `x_text_fingerprint` twin) hashed
    * with the spec-derived [[graft.functions.XxHash64Ref]] instead of
    * Spark's XXH64, min per document, nulls for shingle-less docs
    * (matching `array_min` of an empty array).
    */
  val expectedTables: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_text_fingerprint_prod" -> { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .select(
          col("doc_id").cast("long").as("id"),
          graft.functions.GraftFunctions.word_shingles(col("text"), 5).as("sh"))
        .as[(Long, Seq[String])]
        .map { case (id, sh) =>
          val fp =
            if (sh == null || sh.isEmpty) None
            else Some(sh.iterator.map(graft.functions.XxHash64Ref.hashString(_)).min)
          (id, fp)
        }
        .toDF("doc_id", "fp")
        .orderBy("doc_id")
    }
    // x_lttb / x_asap_smooth formerly dumped expected tables from the
    // same Scala core re-orchestrated on the driver — a self-refereeing
    // gate (r8 verdict). Both are now re-derived INDEPENDENTLY inside
    // the DuckDB oracle SQL itself (recursive-CTE LTTB; list-lambda
    // ASAP), so no expected table is needed.
  )

  /** The x_dedup_image_incr derivation, shared verbatim by the
    * streaming admission gate (see x_dedup_image_stream below). */
  private val imageIncrOracle: String =
      """WITH RECURSIVE aff(k, a, b) AS (
        |  SELECT 1,
        |         CAST(6364136223846793005 AS HUGEINT),
        |         CAST(1442695040888963407 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1,
        |         (a * 6364136223846793005) % 18446744073709551616,
        |         (b * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM aff WHERE k < 3074
        |), imgs AS (
        |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS xm,
        |         1 + n_chars % 64 AS w, 1 + n_chars % 48 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id, 65793,
        |         1 + n_chars % 64, 1 + n_chars % 48
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, doc_id, 8421504,
        |         1 + n_chars % 64, 1 + n_chars % 48
        |  FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 400000, doc_id, 8487297,
        |         1 + n_chars % 64, 1 + n_chars % 48
        |  FROM documents WHERE doc_id % 7 = 3
        |), hi AS (
        |  SELECT * FROM imgs WHERE w >= 9 AND h >= 8
        |), px AS (
        |  SELECT media_id, w, h, xm,
        |         (aff.k - 2) % w AS x, (aff.k - 2) // w AS y,
        |         CAST(((aff.a * seed + aff.b) % 18446744073709551616
        |               // 1099511627776) % 16777216 AS BIGINT) AS rgb0
        |  FROM hi JOIN aff ON aff.k BETWEEN 2 AND w * h + 1
        |), lum AS (
        |  SELECT media_id, x * 9 // w AS gx, y * 8 // h AS gy,
        |         (299 * ((xor(rgb0, xm) >> 16) & 255)
        |        + 587 * ((xor(rgb0, xm) >> 8) & 255)
        |        + 114 * (xor(rgb0, xm) & 255)) // 1000 AS luma
        |  FROM px
        |), cell AS (
        |  SELECT media_id, gx, gy, sum(luma) // count(*) AS m
        |  FROM lum GROUP BY media_id, gx, gy
        |), dh AS (
        |  SELECT c1.media_id,
        |         SUM(CASE WHEN c1.m > c2.m
        |             THEN CAST(1 AS HUGEINT) << (c1.gy * 8 + c1.gx)
        |             ELSE CAST(0 AS HUGEINT) END) AS dhu
        |  FROM cell c1 JOIN cell c2
        |    ON c1.media_id = c2.media_id AND c2.gy = c1.gy AND c2.gx = c1.gx + 1
        |  WHERE c1.gx < 8
        |  GROUP BY c1.media_id
        |), hs AS (
        |  SELECT media_id,
        |         CAST(CASE WHEN dhu >= 9223372036854775808
        |              THEN dhu - 18446744073709551616 ELSE dhu END AS BIGINT) AS dhash
        |  FROM dh
        |), pairs AS (
        |  SELECT a.media_id AS a_id, b.media_id AS b_id
        |  FROM hs a JOIN hs b
        |    ON a.media_id < b.media_id AND b.media_id >= 200000
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 11
        |), st AS (
        |  SELECT b_id AS media_id,
        |         max(CASE WHEN a_id < 200000 THEN 1 ELSE 0 END) AS has_snap,
        |         max(CASE WHEN a_id >= 200000 THEN 1 ELSE 0 END) AS has_batch
        |  FROM pairs GROUP BY b_id
        |)
        |SELECT hs.media_id, dhash,
        |       CASE WHEN st.has_snap = 1 THEN 'dup_snapshot'
        |            WHEN st.has_batch = 1 THEN 'dup_batch'
        |            ELSE 'new' END AS status
        |FROM hs LEFT JOIN st ON hs.media_id = st.media_id
        |WHERE hs.media_id >= 200000
        |ORDER BY hs.media_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // chunk keep-first re-derived with a window rank over (doc_id, idx) —
    // the declarative spec of the engine's groupBy-min + join-back plan
    // identical positional 10-gram pipeline: same tokenization, same
    // keep-first key (doc_id·2^20 + pos — the integer encoding of Spark's
    // min(struct(doc_id, pos)) ordering), same pos > prev + k run merge,
    // same NUMERIC (start, end) span ordering
    // decoded pixels re-derived in closed form from the fixture LCG
    // (affine-map powers, the x_multimodal_features idiom), then the SAME
    // integer luma→9×8-cell-mean→dHash/aHash pipeline, then brute-force
    // all-pairs Hamming ≤ 11 — the engine's banded join must equal it
    "x_dedup_image" ->
      """WITH RECURSIVE aff(k, a, b) AS (
        |  SELECT 1,
        |         CAST(6364136223846793005 AS HUGEINT),
        |         CAST(1442695040888963407 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1,
        |         (a * 6364136223846793005) % 18446744073709551616,
        |         (b * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM aff WHERE k < 3074
        |), imgs AS (
        |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS xm,
        |         1 + n_chars % 64 AS w, 1 + n_chars % 48 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id, 65793,
        |         1 + n_chars % 64, 1 + n_chars % 48
        |  FROM documents WHERE doc_id % 10 = 0
        |), hi AS (
        |  SELECT * FROM imgs WHERE w >= 9 AND h >= 8
        |), px AS (
        |  SELECT media_id, w, h, xm,
        |         (aff.k - 2) % w AS x, (aff.k - 2) // w AS y,
        |         CAST(((aff.a * seed + aff.b) % 18446744073709551616
        |               // 1099511627776) % 16777216 AS BIGINT) AS rgb0
        |  FROM hi JOIN aff ON aff.k BETWEEN 2 AND w * h + 1
        |), lum AS (
        |  SELECT media_id, x * 9 // w AS gx, y * 8 // h AS gy,
        |         (299 * ((xor(rgb0, xm) >> 16) & 255)
        |        + 587 * ((xor(rgb0, xm) >> 8) & 255)
        |        + 114 * (xor(rgb0, xm) & 255)) // 1000 AS luma
        |  FROM px
        |), cell AS (
        |  SELECT media_id, gx, gy, sum(luma) // count(*) AS m
        |  FROM lum GROUP BY media_id, gx, gy
        |), dh AS (
        |  SELECT c1.media_id,
        |         SUM(CASE WHEN c1.m > c2.m
        |             THEN CAST(1 AS HUGEINT) << (c1.gy * 8 + c1.gx)
        |             ELSE CAST(0 AS HUGEINT) END) AS dhu
        |  FROM cell c1 JOIN cell c2
        |    ON c1.media_id = c2.media_id AND c2.gy = c1.gy AND c2.gx = c1.gx + 1
        |  WHERE c1.gx < 8
        |  GROUP BY c1.media_id
        |), gm AS (
        |  SELECT media_id, SUM(m) // 64 AS g FROM cell WHERE gx < 8 GROUP BY media_id
        |), ah AS (
        |  SELECT cell.media_id,
        |         SUM(CASE WHEN m > g
        |             THEN CAST(1 AS HUGEINT) << (gy * 8 + gx)
        |             ELSE CAST(0 AS HUGEINT) END) AS ahu
        |  FROM cell JOIN gm ON cell.media_id = gm.media_id
        |  WHERE gx < 8
        |  GROUP BY cell.media_id
        |), hs AS (
        |  SELECT dh.media_id,
        |         CAST(CASE WHEN dhu >= 9223372036854775808
        |              THEN dhu - 18446744073709551616 ELSE dhu END AS BIGINT) AS dhash,
        |         CAST(CASE WHEN ahu >= 9223372036854775808
        |              THEN ahu - 18446744073709551616 ELSE ahu END AS BIGINT) AS ahash
        |  FROM dh JOIN ah ON dh.media_id = ah.media_id
        |), pr AS (
        |  SELECT a.media_id AS media_id, min(b.media_id) AS dup_of
        |  FROM hs a JOIN hs b
        |    ON b.media_id < a.media_id
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 11
        |  GROUP BY a.media_id
        |)
        |SELECT hs.media_id, dhash, ahash,
        |       CASE WHEN pr.dup_of IS NOT NULL THEN 'dup' ELSE 'kept' END AS status,
        |       coalesce(pr.dup_of, -1) AS dup_of
        |FROM hs LEFT JOIN pr ON hs.media_id = pr.media_id
        |ORDER BY hs.media_id""".stripMargin,
    "x_substring_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, 'xdupsalt ' || text
        |  FROM documents WHERE doc_id % 10 = 0
        |), base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
        |         len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM corpus
        |), grams AS (
        |  SELECT doc_id, gs.pos,
        |         array_to_string(ws[gs.pos + 1 : gs.pos + 10], ' ') AS g
        |  FROM base, LATERAL (
        |    SELECT unnest(generate_series(0, n_tokens - 10)) AS pos) gs
        |  WHERE n_tokens >= 10
        |), occ AS (
        |  SELECT g, count(*) AS cnt,
        |         min(doc_id * 1048576 + pos) AS firstkey
        |  FROM grams GROUP BY g
        |), fl AS (
        |  SELECT grams.doc_id, grams.pos
        |  FROM grams JOIN occ ON grams.g = occ.g
        |  WHERE occ.cnt >= 2
        |    AND grams.doc_id * 1048576 + grams.pos <> occ.firstkey
        |), sp AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
        |              THEN 1 ELSE 0 END AS ns
        |  FROM fl
        |), sp2 AS (
        |  SELECT doc_id, pos,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM sp
        |), spans AS (
        |  SELECT doc_id, sid, min(pos) AS s, max(pos) + 10 AS e
        |  FROM sp2 GROUP BY doc_id, sid
        |), pd AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |         CAST(sum(e - s) AS BIGINT) AS dup_tokens,
        |         string_agg(CAST(s AS VARCHAR) || ':' || CAST(e AS VARCHAR), ','
        |                    ORDER BY s, e) AS spans
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT base.doc_id AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       coalesce(n_spans, 0) AS n_spans,
        |       coalesce(dup_tokens, 0) AS dup_tokens,
        |       coalesce(pd.spans, '') AS spans
        |FROM base LEFT JOIN pd ON base.doc_id = pd.doc_id
        |ORDER BY base.doc_id""".stripMargin,
    // the x_dedup_image sub-pipeline (closed-form pixels → dHash →
    // brute-force pairs) + keep-first survivors + the same md5 split
    "x_pipeline_multimodal" ->
      """WITH RECURSIVE aff(k, a, b) AS (
        |  SELECT 1,
        |         CAST(6364136223846793005 AS HUGEINT),
        |         CAST(1442695040888963407 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1,
        |         (a * 6364136223846793005) % 18446744073709551616,
        |         (b * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM aff WHERE k < 3074
        |), imgs AS (
        |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS xm,
        |         1 + n_chars % 64 AS w, 1 + n_chars % 48 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id, 65793,
        |         1 + n_chars % 64, 1 + n_chars % 48
        |  FROM documents WHERE doc_id % 10 = 0
        |), hi AS (
        |  SELECT * FROM imgs WHERE w >= 9 AND h >= 8
        |), px AS (
        |  SELECT media_id, w, h, xm,
        |         (aff.k - 2) % w AS x, (aff.k - 2) // w AS y,
        |         CAST(((aff.a * seed + aff.b) % 18446744073709551616
        |               // 1099511627776) % 16777216 AS BIGINT) AS rgb0
        |  FROM hi JOIN aff ON aff.k BETWEEN 2 AND w * h + 1
        |), lum AS (
        |  SELECT media_id, x * 9 // w AS gx, y * 8 // h AS gy,
        |         (299 * ((xor(rgb0, xm) >> 16) & 255)
        |        + 587 * ((xor(rgb0, xm) >> 8) & 255)
        |        + 114 * (xor(rgb0, xm) & 255)) // 1000 AS luma
        |  FROM px
        |), cell AS (
        |  SELECT media_id, gx, gy, sum(luma) // count(*) AS m
        |  FROM lum GROUP BY media_id, gx, gy
        |), dh AS (
        |  SELECT c1.media_id,
        |         SUM(CASE WHEN c1.m > c2.m
        |             THEN CAST(1 AS HUGEINT) << (c1.gy * 8 + c1.gx)
        |             ELSE CAST(0 AS HUGEINT) END) AS dhu
        |  FROM cell c1 JOIN cell c2
        |    ON c1.media_id = c2.media_id AND c2.gy = c1.gy AND c2.gx = c1.gx + 1
        |  WHERE c1.gx < 8
        |  GROUP BY c1.media_id
        |), hs AS (
        |  SELECT media_id,
        |         CAST(CASE WHEN dhu >= 9223372036854775808
        |              THEN dhu - 18446744073709551616 ELSE dhu END AS BIGINT) AS dhash
        |  FROM dh
        |), pr AS (
        |  SELECT a.media_id AS media_id
        |  FROM hs a JOIN hs b
        |    ON b.media_id < a.media_id
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 11
        |  GROUP BY a.media_id
        |), kept AS (
        |  SELECT hs.media_id, hi.w, hi.h
        |  FROM hs JOIN hi ON hs.media_id = hi.media_id
        |  LEFT JOIN pr ON hs.media_id = pr.media_id
        |  WHERE pr.media_id IS NULL
        |)
        |SELECT CASE WHEN substr(md5('graft:' || CAST(media_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |            WHEN substr(md5('graft:' || CAST(media_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_imgs,
        |       CAST(sum(w * h) AS BIGINT) AS sum_px
        |FROM kept GROUP BY 1 ORDER BY split""".stripMargin,
    // same closed-form pixel → dHash pipeline over index ∪ the
    // three-fate batch, statuses from brute-force pairs split by side
    "x_dedup_image_incr" -> imageIncrOracle,
    // closed-form LCG samples (signed 16-bit), same 65-bin |s| energy
    // sums and gradient-sign fingerprint, brute-force all-pairs ≤ 11
    "x_dedup_audio" ->
      """WITH RECURSIVE aff(k, a, b) AS (
        |  SELECT 1,
        |         CAST(6364136223846793005 AS HUGEINT),
        |         CAST(1442695040888963407 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1,
        |         (a * 6364136223846793005) % 18446744073709551616,
        |         (b * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM aff WHERE k < 4003
        |), clips AS (
        |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS xm,
        |         1 + n_chars % 4001 AS n
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id, 1, 1 + n_chars % 4001
        |  FROM documents WHERE doc_id % 10 = 0
        |), hc AS (
        |  SELECT * FROM clips WHERE n >= 65
        |), smp AS (
        |  SELECT media_id, n, (aff.k - 2) AS i,
        |         xor(CAST(((aff.a * seed + aff.b) % 18446744073709551616
        |               // 1099511627776) % 65536 AS BIGINT), xm) AS v
        |  FROM hc JOIN aff ON aff.k BETWEEN 2 AND n + 1
        |), en AS (
        |  SELECT media_id, i * 65 // n AS w,
        |         sum(abs(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END)) AS e
        |  FROM smp GROUP BY media_id, i * 65 // n
        |), fh AS (
        |  SELECT e1.media_id,
        |         SUM(CASE WHEN e1.e > e2.e
        |             THEN CAST(1 AS HUGEINT) << e1.w
        |             ELSE CAST(0 AS HUGEINT) END) AS fpu
        |  FROM en e1 JOIN en e2
        |    ON e1.media_id = e2.media_id AND e2.w = e1.w + 1
        |  WHERE e1.w < 64
        |  GROUP BY e1.media_id
        |), hs AS (
        |  SELECT media_id,
        |         CAST(CASE WHEN fpu >= 9223372036854775808
        |              THEN fpu - 18446744073709551616 ELSE fpu END AS BIGINT) AS fp
        |  FROM fh
        |), pr AS (
        |  SELECT a.media_id AS media_id, min(b.media_id) AS dup_of
        |  FROM hs a JOIN hs b
        |    ON b.media_id < a.media_id
        |   AND bit_count(xor(a.fp, b.fp)) <= 11
        |  GROUP BY a.media_id
        |)
        |SELECT hs.media_id, fp,
        |       CASE WHEN pr.dup_of IS NOT NULL THEN 'dup' ELSE 'kept' END AS status,
        |       coalesce(pr.dup_of, -1) AS dup_of
        |FROM hs LEFT JOIN pr ON hs.media_id = pr.media_id
        |ORDER BY hs.media_id""".stripMargin,
    // the audio fingerprint pipeline over index ∪ the three-fate batch
    // (xm = 1 LSB flip, 32768 sign flip, 32769 sign+LSB), statuses from
    // brute-force pairs split by which side the earlier partner sits on
    "x_dedup_audio_incr" ->
      """WITH RECURSIVE aff(k, a, b) AS (
        |  SELECT 1,
        |         CAST(6364136223846793005 AS HUGEINT),
        |         CAST(1442695040888963407 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1,
        |         (a * 6364136223846793005) % 18446744073709551616,
        |         (b * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM aff WHERE k < 4003
        |), clips AS (
        |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS xm,
        |         1 + n_chars % 4001 AS n
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id, 1, 1 + n_chars % 4001
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, doc_id, 32768, 1 + n_chars % 4001
        |  FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 400000, doc_id, 32769, 1 + n_chars % 4001
        |  FROM documents WHERE doc_id % 7 = 3
        |), hc AS (
        |  SELECT * FROM clips WHERE n >= 65
        |), smp AS (
        |  SELECT media_id, n, (aff.k - 2) AS i,
        |         xor(CAST(((aff.a * seed + aff.b) % 18446744073709551616
        |               // 1099511627776) % 65536 AS BIGINT), xm) AS v
        |  FROM hc JOIN aff ON aff.k BETWEEN 2 AND n + 1
        |), en AS (
        |  SELECT media_id, i * 65 // n AS w,
        |         sum(abs(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END)) AS e
        |  FROM smp GROUP BY media_id, i * 65 // n
        |), fh AS (
        |  SELECT e1.media_id,
        |         SUM(CASE WHEN e1.e > e2.e
        |             THEN CAST(1 AS HUGEINT) << e1.w
        |             ELSE CAST(0 AS HUGEINT) END) AS fpu
        |  FROM en e1 JOIN en e2
        |    ON e1.media_id = e2.media_id AND e2.w = e1.w + 1
        |  WHERE e1.w < 64
        |  GROUP BY e1.media_id
        |), hs AS (
        |  SELECT media_id,
        |         CAST(CASE WHEN fpu >= 9223372036854775808
        |              THEN fpu - 18446744073709551616 ELSE fpu END AS BIGINT) AS fp
        |  FROM fh
        |), pairs AS (
        |  SELECT a.media_id AS a_id, b.media_id AS b_id
        |  FROM hs a JOIN hs b
        |    ON a.media_id < b.media_id AND b.media_id >= 200000
        |   AND bit_count(xor(a.fp, b.fp)) <= 11
        |), st AS (
        |  SELECT b_id AS media_id,
        |         max(CASE WHEN a_id < 200000 THEN 1 ELSE 0 END) AS has_snap,
        |         max(CASE WHEN a_id >= 200000 THEN 1 ELSE 0 END) AS has_batch
        |  FROM pairs GROUP BY b_id
        |)
        |SELECT hs.media_id, fp,
        |       CASE WHEN st.has_snap = 1 THEN 'dup_snapshot'
        |            WHEN st.has_batch = 1 THEN 'dup_batch'
        |            ELSE 'new' END AS status
        |FROM hs LEFT JOIN st ON hs.media_id = st.media_id
        |WHERE hs.media_id >= 200000
        |ORDER BY hs.media_id""".stripMargin,
    // frame-0 pixels in closed form (LCG seed media_id·131), then the
    // identical luma/9×8-grid/dHash pipeline and brute-force pairs as
    // the x_dedup_image oracle
    "x_dedup_video" ->
      """WITH RECURSIVE aff(k, a, b) AS (
        |  SELECT 1,
        |         CAST(6364136223846793005 AS HUGEINT),
        |         CAST(1442695040888963407 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1,
        |         (a * 6364136223846793005) % 18446744073709551616,
        |         (b * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM aff WHERE k < 770
        |), vids AS (
        |  SELECT doc_id AS media_id, doc_id * 131 AS seed, 0 AS xm,
        |         1 + n_chars % 32 AS w, 1 + n_chars % 24 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id * 131, 65793,
        |         1 + n_chars % 32, 1 + n_chars % 24
        |  FROM documents WHERE doc_id % 10 = 0
        |), hi AS (
        |  SELECT * FROM vids WHERE w >= 9 AND h >= 8
        |), px AS (
        |  SELECT media_id, w, h, xm,
        |         (aff.k - 2) % w AS x, (aff.k - 2) // w AS y,
        |         CAST(((aff.a * seed + aff.b) % 18446744073709551616
        |               // 1099511627776) % 16777216 AS BIGINT) AS rgb0
        |  FROM hi JOIN aff ON aff.k BETWEEN 2 AND w * h + 1
        |), lum AS (
        |  SELECT media_id, x * 9 // w AS gx, y * 8 // h AS gy,
        |         (299 * ((xor(rgb0, xm) >> 16) & 255)
        |        + 587 * ((xor(rgb0, xm) >> 8) & 255)
        |        + 114 * (xor(rgb0, xm) & 255)) // 1000 AS luma
        |  FROM px
        |), cell AS (
        |  SELECT media_id, gx, gy, sum(luma) // count(*) AS m
        |  FROM lum GROUP BY media_id, gx, gy
        |), dh AS (
        |  SELECT c1.media_id,
        |         SUM(CASE WHEN c1.m > c2.m
        |             THEN CAST(1 AS HUGEINT) << (c1.gy * 8 + c1.gx)
        |             ELSE CAST(0 AS HUGEINT) END) AS dhu
        |  FROM cell c1 JOIN cell c2
        |    ON c1.media_id = c2.media_id AND c2.gy = c1.gy AND c2.gx = c1.gx + 1
        |  WHERE c1.gx < 8
        |  GROUP BY c1.media_id
        |), gm AS (
        |  SELECT media_id, SUM(m) // 64 AS g FROM cell WHERE gx < 8 GROUP BY media_id
        |), ah AS (
        |  SELECT cell.media_id,
        |         SUM(CASE WHEN m > g
        |             THEN CAST(1 AS HUGEINT) << (gy * 8 + gx)
        |             ELSE CAST(0 AS HUGEINT) END) AS ahu
        |  FROM cell JOIN gm ON cell.media_id = gm.media_id
        |  WHERE gx < 8
        |  GROUP BY cell.media_id
        |), hs AS (
        |  SELECT dh.media_id,
        |         CAST(CASE WHEN dhu >= 9223372036854775808
        |              THEN dhu - 18446744073709551616 ELSE dhu END AS BIGINT) AS dhash,
        |         CAST(CASE WHEN ahu >= 9223372036854775808
        |              THEN ahu - 18446744073709551616 ELSE ahu END AS BIGINT) AS ahash
        |  FROM dh JOIN ah ON dh.media_id = ah.media_id
        |), pr AS (
        |  SELECT a.media_id AS media_id, min(b.media_id) AS dup_of
        |  FROM hs a JOIN hs b
        |    ON b.media_id < a.media_id
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 11
        |  GROUP BY a.media_id
        |)
        |SELECT hs.media_id, dhash, ahash,
        |       CASE WHEN pr.dup_of IS NOT NULL THEN 'dup' ELSE 'kept' END AS status,
        |       coalesce(pr.dup_of, -1) AS dup_of
        |FROM hs LEFT JOIN pr ON hs.media_id = pr.media_id
        |ORDER BY hs.media_id""".stripMargin,
    // frame-0 dHash over index ∪ the three-fate batch (xm = 65793 low
    // bit, 8421504 high bit, 8487297 high+low), statuses from
    // brute-force pairs split by side — the video twin of
    // x_dedup_image_incr through the keyframe heuristic
    "x_dedup_video_incr" ->
      """WITH RECURSIVE aff(k, a, b) AS (
        |  SELECT 1,
        |         CAST(6364136223846793005 AS HUGEINT),
        |         CAST(1442695040888963407 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1,
        |         (a * 6364136223846793005) % 18446744073709551616,
        |         (b * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM aff WHERE k < 770
        |), vids AS (
        |  SELECT doc_id AS media_id, doc_id * 131 AS seed, 0 AS xm,
        |         1 + n_chars % 32 AS w, 1 + n_chars % 24 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id * 131, 65793,
        |         1 + n_chars % 32, 1 + n_chars % 24
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, doc_id * 131, 8421504,
        |         1 + n_chars % 32, 1 + n_chars % 24
        |  FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 400000, doc_id * 131, 8487297,
        |         1 + n_chars % 32, 1 + n_chars % 24
        |  FROM documents WHERE doc_id % 7 = 3
        |), hi AS (
        |  SELECT * FROM vids WHERE w >= 9 AND h >= 8
        |), px AS (
        |  SELECT media_id, w, h, xm,
        |         (aff.k - 2) % w AS x, (aff.k - 2) // w AS y,
        |         CAST(((aff.a * seed + aff.b) % 18446744073709551616
        |               // 1099511627776) % 16777216 AS BIGINT) AS rgb0
        |  FROM hi JOIN aff ON aff.k BETWEEN 2 AND w * h + 1
        |), lum AS (
        |  SELECT media_id, x * 9 // w AS gx, y * 8 // h AS gy,
        |         (299 * ((xor(rgb0, xm) >> 16) & 255)
        |        + 587 * ((xor(rgb0, xm) >> 8) & 255)
        |        + 114 * (xor(rgb0, xm) & 255)) // 1000 AS luma
        |  FROM px
        |), cell AS (
        |  SELECT media_id, gx, gy, sum(luma) // count(*) AS m
        |  FROM lum GROUP BY media_id, gx, gy
        |), dh AS (
        |  SELECT c1.media_id,
        |         SUM(CASE WHEN c1.m > c2.m
        |             THEN CAST(1 AS HUGEINT) << (c1.gy * 8 + c1.gx)
        |             ELSE CAST(0 AS HUGEINT) END) AS dhu
        |  FROM cell c1 JOIN cell c2
        |    ON c1.media_id = c2.media_id AND c2.gy = c1.gy AND c2.gx = c1.gx + 1
        |  WHERE c1.gx < 8
        |  GROUP BY c1.media_id
        |), hs AS (
        |  SELECT media_id,
        |         CAST(CASE WHEN dhu >= 9223372036854775808
        |              THEN dhu - 18446744073709551616 ELSE dhu END AS BIGINT) AS dhash
        |  FROM dh
        |), pairs AS (
        |  SELECT a.media_id AS a_id, b.media_id AS b_id
        |  FROM hs a JOIN hs b
        |    ON a.media_id < b.media_id AND b.media_id >= 200000
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 11
        |), st AS (
        |  SELECT b_id AS media_id,
        |         max(CASE WHEN a_id < 200000 THEN 1 ELSE 0 END) AS has_snap,
        |         max(CASE WHEN a_id >= 200000 THEN 1 ELSE 0 END) AS has_batch
        |  FROM pairs GROUP BY b_id
        |)
        |SELECT hs.media_id, dhash,
        |       CASE WHEN st.has_snap = 1 THEN 'dup_snapshot'
        |            WHEN st.has_batch = 1 THEN 'dup_batch'
        |            ELSE 'new' END AS status
        |FROM hs LEFT JOIN st ON hs.media_id = st.media_id
        |WHERE hs.media_id >= 200000
        |ORDER BY hs.media_id""".stripMargin,
    // first/mid/last frame pixels in closed form (LCG seed media_id·131
    // + frame_idx; the copy's XOR mask is per-frame: heavy on frame 0,
    // low-bit elsewhere), per-slot dHash, brute-force SAME-SLOT pairs,
    // dup iff any slot matches
    "x_dedup_video_frames" ->
      """WITH RECURSIVE aff(k, a, b) AS (
        |  SELECT 1,
        |         CAST(6364136223846793005 AS HUGEINT),
        |         CAST(1442695040888963407 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1,
        |         (a * 6364136223846793005) % 18446744073709551616,
        |         (b * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM aff WHERE k < 770
        |), vids AS (
        |  SELECT doc_id AS media_id, doc_id * 131 AS base_seed,
        |         0 AS xm0, 0 AS xmr,
        |         1 + n_chars % 32 AS w, 1 + n_chars % 24 AS h,
        |         1 + n_chars % 8 AS nf
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id * 131, 8421504, 65793,
        |         1 + n_chars % 32, 1 + n_chars % 24, 1 + n_chars % 8
        |  FROM documents WHERE doc_id % 10 = 0
        |), hi AS (
        |  SELECT * FROM vids WHERE w >= 9 AND h >= 8
        |), fr AS (
        |  SELECT media_id, w, h, sl.slot,
        |         CASE WHEN sl.slot = 0 THEN 0
        |              WHEN sl.slot = 1 THEN nf // 2
        |              ELSE nf - 1 END AS fidx,
        |         CASE WHEN (CASE WHEN sl.slot = 0 THEN 0
        |                         WHEN sl.slot = 1 THEN nf // 2
        |                         ELSE nf - 1 END) = 0 THEN xm0 ELSE xmr END AS xm,
        |         base_seed
        |  FROM hi CROSS JOIN (SELECT unnest([0, 1, 2]) AS slot) sl
        |), px AS (
        |  SELECT media_id, slot, w, h, xm,
        |         (aff.k - 2) % w AS x, (aff.k - 2) // w AS y,
        |         CAST(((aff.a * (base_seed + fidx) + aff.b) % 18446744073709551616
        |               // 1099511627776) % 16777216 AS BIGINT) AS rgb0
        |  FROM fr JOIN aff ON aff.k BETWEEN 2 AND w * h + 1
        |), lum AS (
        |  SELECT media_id, slot, x * 9 // w AS gx, y * 8 // h AS gy,
        |         (299 * ((xor(rgb0, xm) >> 16) & 255)
        |        + 587 * ((xor(rgb0, xm) >> 8) & 255)
        |        + 114 * (xor(rgb0, xm) & 255)) // 1000 AS luma
        |  FROM px
        |), cell AS (
        |  SELECT media_id, slot, gx, gy, sum(luma) // count(*) AS m
        |  FROM lum GROUP BY media_id, slot, gx, gy
        |), dh AS (
        |  SELECT c1.media_id, c1.slot,
        |         SUM(CASE WHEN c1.m > c2.m
        |             THEN CAST(1 AS HUGEINT) << (c1.gy * 8 + c1.gx)
        |             ELSE CAST(0 AS HUGEINT) END) AS dhu
        |  FROM cell c1 JOIN cell c2
        |    ON c1.media_id = c2.media_id AND c1.slot = c2.slot
        |   AND c2.gy = c1.gy AND c2.gx = c1.gx + 1
        |  WHERE c1.gx < 8
        |  GROUP BY c1.media_id, c1.slot
        |), hs AS (
        |  SELECT media_id, slot,
        |         CAST(CASE WHEN dhu >= 9223372036854775808
        |              THEN dhu - 18446744073709551616 ELSE dhu END AS BIGINT) AS dhash
        |  FROM dh
        |), pr AS (
        |  SELECT b.media_id AS media_id, min(a.media_id) AS dup_of
        |  FROM hs a JOIN hs b
        |    ON a.slot = b.slot AND a.media_id < b.media_id
        |   AND bit_count(xor(a.dhash, b.dhash)) <= 11
        |  GROUP BY b.media_id
        |), pv AS (
        |  SELECT media_id,
        |         max(CASE WHEN slot = 0 THEN dhash END) AS first_dhash,
        |         max(CASE WHEN slot = 1 THEN dhash END) AS mid_dhash,
        |         max(CASE WHEN slot = 2 THEN dhash END) AS last_dhash
        |  FROM hs GROUP BY media_id
        |)
        |SELECT pv.media_id, first_dhash, mid_dhash, last_dhash,
        |       CASE WHEN pr.dup_of IS NOT NULL THEN 'dup' ELSE 'kept' END AS status,
        |       coalesce(pr.dup_of, -1) AS dup_of
        |FROM pv LEFT JOIN pr ON pv.media_id = pr.media_id
        |ORDER BY pv.media_id""".stripMargin,
    // the FULL batch pipeline over snapshot ∪ batch, restricted to the
    // arriving docs — the union's keep-first for a stored gram is always
    // a snapshot key (monotone ids), so this equals the admission path
    "x_substring_incr" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 4
        |  UNION ALL
        |  SELECT doc_id + 200000, 'xdupsalt ' || text
        |  FROM documents WHERE doc_id % 10 = 0
        |), base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
        |         len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM corpus
        |), grams AS (
        |  SELECT doc_id, gs.pos,
        |         array_to_string(ws[gs.pos + 1 : gs.pos + 10], ' ') AS g
        |  FROM base, LATERAL (
        |    SELECT unnest(generate_series(0, n_tokens - 10)) AS pos) gs
        |  WHERE n_tokens >= 10
        |), occ AS (
        |  SELECT g, count(*) AS cnt,
        |         min(doc_id * 1048576 + pos) AS firstkey
        |  FROM grams GROUP BY g
        |), fl AS (
        |  SELECT grams.doc_id, grams.pos
        |  FROM grams JOIN occ ON grams.g = occ.g
        |  WHERE occ.cnt >= 2
        |    AND grams.doc_id * 1048576 + grams.pos <> occ.firstkey
        |), sp AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
        |              THEN 1 ELSE 0 END AS ns
        |  FROM fl
        |), sp2 AS (
        |  SELECT doc_id, pos,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM sp
        |), spans AS (
        |  SELECT doc_id, sid, min(pos) AS s, max(pos) + 10 AS e
        |  FROM sp2 GROUP BY doc_id, sid
        |), pd AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |         CAST(sum(e - s) AS BIGINT) AS dup_tokens,
        |         string_agg(CAST(s AS VARCHAR) || ':' || CAST(e AS VARCHAR), ','
        |                    ORDER BY s, e) AS spans
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT base.doc_id AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       coalesce(n_spans, 0) AS n_spans,
        |       coalesce(dup_tokens, 0) AS dup_tokens,
        |       coalesce(pd.spans, '') AS spans
        |FROM base LEFT JOIN pd ON base.doc_id = pd.doc_id
        |WHERE base.doc_id >= 100000
        |ORDER BY base.doc_id""".stripMargin,
    // same k-gram → keep-first → run-merge span pipeline as
    // x_substring_dedup, then the strip re-derived independently: kept
    // token positions via an anti-join against the span ranges,
    // re-assembled in position order
    "x_substring_strip" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, 'xdupsalt ' || text
        |  FROM documents WHERE doc_id % 10 = 0
        |), base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
        |         len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM corpus
        |), grams AS (
        |  SELECT doc_id, gs.pos,
        |         array_to_string(ws[gs.pos + 1 : gs.pos + 10], ' ') AS g
        |  FROM base, LATERAL (
        |    SELECT unnest(generate_series(0, n_tokens - 10)) AS pos) gs
        |  WHERE n_tokens >= 10
        |), occ AS (
        |  SELECT g, count(*) AS cnt,
        |         min(doc_id * 1048576 + pos) AS firstkey
        |  FROM grams GROUP BY g
        |), fl AS (
        |  SELECT grams.doc_id, grams.pos
        |  FROM grams JOIN occ ON grams.g = occ.g
        |  WHERE occ.cnt >= 2
        |    AND grams.doc_id * 1048576 + grams.pos <> occ.firstkey
        |), sp AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
        |              THEN 1 ELSE 0 END AS ns
        |  FROM fl
        |), sp2 AS (
        |  SELECT doc_id, pos,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM sp
        |), spans AS (
        |  SELECT doc_id, sid, min(pos) AS s, max(pos) + 10 AS e
        |  FROM sp2 GROUP BY doc_id, sid
        |), toks AS (
        |  SELECT doc_id, gs.pos, ws[gs.pos + 1] AS w
        |  FROM base, LATERAL (
        |    SELECT unnest(generate_series(0, n_tokens - 1)) AS pos) gs
        |), keptt AS (
        |  SELECT t.doc_id, t.pos, t.w
        |  FROM toks t LEFT JOIN spans z
        |    ON t.doc_id = z.doc_id AND t.pos >= z.s AND t.pos < z.e
        |  WHERE z.doc_id IS NULL
        |), outp AS (
        |  SELECT doc_id, count(*) AS kept_tokens,
        |         string_agg(w, ' ' ORDER BY pos) AS stripped_text
        |  FROM keptt GROUP BY doc_id
        |)
        |SELECT base.doc_id AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       coalesce(kept_tokens, 0) AS kept_tokens,
        |       coalesce(stripped_text, '') AS stripped_text
        |FROM base LEFT JOIN outp ON base.doc_id = outp.doc_id
        |ORDER BY base.doc_id""".stripMargin,
    // the streamed two-batch ingest must union to the one-shot batch
    // pipeline (monotone-id equivalence), so the oracle IS the
    // x_substring_strip derivation over the same corpus
    "x_substring_stream" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, 'xdupsalt ' || text
        |  FROM documents WHERE doc_id % 30 = 0
        |), base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
        |         len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM corpus
        |), grams AS (
        |  SELECT doc_id, gs.pos,
        |         array_to_string(ws[gs.pos + 1 : gs.pos + 10], ' ') AS g
        |  FROM base, LATERAL (
        |    SELECT unnest(generate_series(0, n_tokens - 10)) AS pos) gs
        |  WHERE n_tokens >= 10
        |), occ AS (
        |  SELECT g, count(*) AS cnt,
        |         min(doc_id * 1048576 + pos) AS firstkey
        |  FROM grams GROUP BY g
        |), fl AS (
        |  SELECT grams.doc_id, grams.pos
        |  FROM grams JOIN occ ON grams.g = occ.g
        |  WHERE occ.cnt >= 2
        |    AND grams.doc_id * 1048576 + grams.pos <> occ.firstkey
        |), sp AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
        |              THEN 1 ELSE 0 END AS ns
        |  FROM fl
        |), sp2 AS (
        |  SELECT doc_id, pos,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM sp
        |), spans AS (
        |  SELECT doc_id, sid, min(pos) AS s, max(pos) + 10 AS e
        |  FROM sp2 GROUP BY doc_id, sid
        |), toks AS (
        |  SELECT doc_id, gs.pos, ws[gs.pos + 1] AS w
        |  FROM base, LATERAL (
        |    SELECT unnest(generate_series(0, n_tokens - 1)) AS pos) gs
        |), keptt AS (
        |  SELECT t.doc_id, t.pos, t.w
        |  FROM toks t LEFT JOIN spans z
        |    ON t.doc_id = z.doc_id AND t.pos >= z.s AND t.pos < z.e
        |  WHERE z.doc_id IS NULL
        |), outp AS (
        |  SELECT doc_id, count(*) AS kept_tokens,
        |         string_agg(w, ' ' ORDER BY pos) AS stripped_text
        |  FROM keptt GROUP BY doc_id
        |)
        |SELECT base.doc_id AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       coalesce(kept_tokens, 0) AS kept_tokens,
        |       coalesce(stripped_text, '') AS stripped_text
        |FROM base LEFT JOIN outp ON base.doc_id = outp.doc_id
        |ORDER BY base.doc_id""".stripMargin,
    // the composed pipeline re-derived end-to-end: same substring-span
    // sub-pipeline, same mostly-dup drop rule, same md5 split thresholds
    "x_pipeline_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, 'xdupsalt ' || text
        |  FROM documents WHERE doc_id % 10 = 0
        |), base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
        |         len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM corpus
        |), grams AS (
        |  SELECT doc_id, gs.pos,
        |         array_to_string(ws[gs.pos + 1 : gs.pos + 10], ' ') AS g
        |  FROM base, LATERAL (
        |    SELECT unnest(generate_series(0, n_tokens - 10)) AS pos) gs
        |  WHERE n_tokens >= 10
        |), occ AS (
        |  SELECT g, count(*) AS cnt,
        |         min(doc_id * 1048576 + pos) AS firstkey
        |  FROM grams GROUP BY g
        |), fl AS (
        |  SELECT grams.doc_id, grams.pos
        |  FROM grams JOIN occ ON grams.g = occ.g
        |  WHERE occ.cnt >= 2
        |    AND grams.doc_id * 1048576 + grams.pos <> occ.firstkey
        |), sp AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
        |              THEN 1 ELSE 0 END AS ns
        |  FROM fl
        |), sp2 AS (
        |  SELECT doc_id, pos,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM sp
        |), spans AS (
        |  SELECT doc_id, sid, min(pos) AS s, max(pos) + 10 AS e
        |  FROM sp2 GROUP BY doc_id, sid
        |), pd AS (
        |  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id
        |), d2 AS (
        |  SELECT base.doc_id AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |         coalesce(dup_tokens, 0) AS dup_tokens
        |  FROM base LEFT JOIN pd ON base.doc_id = pd.doc_id
        |), f AS (
        |  SELECT doc_id, n_tokens, dup_tokens, n_tokens - dup_tokens AS kept_tokens,
        |         CASE WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |              WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM d2 WHERE dup_tokens * 2 < n_tokens
        |)
        |SELECT split, count(*) AS n_docs,
        |       CAST(sum(kept_tokens) AS BIGINT) AS sum_kept_tokens,
        |       CAST(sum(dup_tokens) AS BIGINT) AS sum_stripped_tokens
        |FROM f GROUP BY split ORDER BY split""".stripMargin,
    "x_chunk_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), ch AS (
        |  SELECT doc_id, unnest(range(0, (len(w) + 9) // 10)) AS idx, w FROM words
        |), c2 AS (
        |  SELECT doc_id, idx, array_to_string(w[idx*10+1 : idx*10+10], ' ') AS chunk FROM ch
        |), fk AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn FROM c2
        |)
        |SELECT doc_id, count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       round(1.0 - CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_rate
        |FROM fk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // fingerprint index probe re-derived: same md5 min-shingle key as
    // x_text_fingerprint, snapshot = doc_id % 5 <> 4, batch = the rest
    "x_dedup_incr" ->
      s"""$shingleSql, fp AS (
         |  SELECT doc_id, list_aggregate(list_transform(shingles, s -> md5(s)), 'min') AS f FROM sh
         |), snap AS (
         |  SELECT DISTINCT f FROM fp WHERE doc_id % 5 <> 4
         |), b AS (
         |  SELECT doc_id, f FROM fp WHERE doc_id % 5 = 4
         |), firsts AS (
         |  SELECT f, min(doc_id) AS first_id FROM b GROUP BY f
         |)
         |SELECT b.doc_id,
         |       CASE WHEN s.f IS NOT NULL THEN 'dup_snapshot'
         |            WHEN b.doc_id <> fi.first_id THEN 'dup_batch'
         |            ELSE 'new' END AS status
         |FROM b LEFT JOIN snap s ON b.f = s.f JOIN firsts fi ON b.f = fi.f
         |ORDER BY b.doc_id""".stripMargin,
    "x_rep_quality" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, n_words, ws,
        |         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bgs
        |  FROM w
        |), tb AS (
        |  SELECT doc_id, n_words, ws,
        |         CASE WHEN n_words < 2 THEN 0
        |              ELSE coalesce(list_max(list_transform(list_distinct(bgs),
        |                     x -> len(list_filter(bgs, y -> y = x)))), 0) END AS top_n
        |  FROM bg
        |)
        |SELECT doc_id,
        |       CAST(n_words AS INT) AS n_words,
        |       CAST(CASE WHEN n_words = 0 THEN 0 ELSE len(list_distinct(ws)) END AS INT) AS n_distinct_words,
        |       CASE WHEN n_words = 0 THEN 0.0
        |            ELSE round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / n_words, 4) END AS dup_word_frac,
        |       CAST(top_n AS INT) AS top_bigram_n,
        |       CASE WHEN n_words < 2 THEN 0.0
        |            ELSE round(CAST(top_n AS DOUBLE) / (n_words - 1), 4) END AS top_bigram_frac
        |FROM tb ORDER BY doc_id""".stripMargin,
    // the composed pipeline re-derived declaratively: same token CASE,
    // same min-id keep-first, same md5 split thresholds as the per-stage
    // oracles
    "x_pipeline_e2e" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents
        |), q AS (
        |  SELECT * FROM t WHERE n_tokens BETWEEN 10 AND 5000
        |), k AS (
        |  SELECT q.doc_id, q.n_tokens
        |  FROM q JOIN (SELECT text, min(doc_id) AS kept_id FROM q GROUP BY text) f
        |    ON q.text = f.text AND q.doc_id = f.kept_id
        |), s AS (
        |  SELECT n_tokens,
        |         CASE WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |              WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM k
        |)
        |SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "x_unigram_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents
        |), t2 AS (
        |  SELECT doc_id, token FROM toks WHERE token <> ''
        |), vocab AS (
        |  SELECT token, count(*) AS tf FROM t2 GROUP BY token
        |)
        |SELECT t2.doc_id,
        |       count(*) AS n_tokens,
        |       CAST(sum(v.tf) AS BIGINT) AS sum_tf,
        |       round(CAST(sum(v.tf) AS DOUBLE) / count(*), 4) AS mean_tf
        |FROM t2 JOIN vocab v ON t2.token = v.token
        |GROUP BY t2.doc_id ORDER BY t2.doc_id""".stripMargin,
    // same count → min(n/w) → trunc(frac·65536) threshold arithmetic as
    // TextOps.mixToWeights, so the hex cutoffs match bit-for-bit
    "x_mix_sources" ->
      """WITH cnt AS (
        |  SELECT source, count(*) AS n FROM documents GROUP BY source
        |), wt AS (
        |  SELECT source, n,
        |         CASE WHEN source IN ('src0','src1','src2','src3') THEN 3.0 ELSE 1.0 END AS w
        |  FROM cnt
        |), tt AS (
        |  SELECT min(CAST(n AS DOUBLE) / w) AS t FROM wt
        |), thr AS (
        |  SELECT source, CAST(trunc(least(1.0, w * (SELECT t FROM tt) / n) * 65536) AS INT) AS thr_int
        |  FROM wt
        |)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN thr ON d.source = thr.source
        |WHERE thr.thr_int >= 65536
        |   OR substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr.thr_int)
        |ORDER BY d.doc_id""".stripMargin,
    // transitive closure via recursive CTE over the same rare-shingle
    // pair list the Spark side clusters (reach(id, rep): id can reach rep
    // through near-dup edges; canonical = min reachable id)
    "x_dedup_components" ->
      s"""${shingleSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, ex AS (
         |  SELECT doc_id, CAST(len(shingles) AS INT) AS sz, unnest(shingles) AS sh FROM sh
         |), rare AS (
         |  SELECT doc_id, sz, sh FROM (
         |    SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM ex
         |  ) WHERE df <= 100
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.sz AS size_a, b.sz AS size_b, count(*) AS inter
         |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |), jp AS (
         |  SELECT id_a, id_b FROM pairs
         |  WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.4
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL
         |  SELECT id_b, id_a FROM jp
         |), reach(id, rep) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.rep FROM edges e JOIN reach r ON r.id = e.dst
         |)
         |SELECT id AS doc_id, min(rep) AS canonical_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // same recursive closure, then the keep-best resolution: token-count
    // score, max score wins, tie → min doc_id; singletons are their own
    // canonical and kept
    "x_dedup_keep_best" ->
      s"""${shingleSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, ex AS (
         |  SELECT doc_id, CAST(len(shingles) AS INT) AS sz, unnest(shingles) AS sh FROM sh
         |), rare AS (
         |  SELECT doc_id, sz, sh FROM (
         |    SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM ex
         |  ) WHERE df <= 100
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.sz AS size_a, b.sz AS size_b, count(*) AS inter
         |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |), jp AS (
         |  SELECT id_a, id_b FROM pairs
         |  WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.4
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM jp
         |  UNION ALL
         |  SELECT id_b, id_a FROM jp
         |), reach(id, rep) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.rep FROM edges e JOIN reach r ON r.id = e.dst
         |), comp AS (
         |  SELECT id, min(rep) AS rep FROM reach GROUP BY id
         |), scored AS (
         |  SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS score
         |  FROM documents
         |), ann AS (
         |  SELECT s.doc_id, COALESCE(c.rep, s.doc_id) AS canonical_id, s.score
         |  FROM scored s LEFT JOIN comp c ON c.id = s.doc_id
         |), ranked AS (
         |  SELECT doc_id, canonical_id,
         |         row_number() OVER (PARTITION BY canonical_id
         |                            ORDER BY score DESC, doc_id ASC) AS rn
         |  FROM ann
         |)
         |SELECT doc_id, canonical_id, (rn = 1) AS kept
         |FROM ranked ORDER BY doc_id""".stripMargin,
    // same md5-prefix decisions, re-derived: 0.25 → 16384 = '4000',
    // 0.5 → 32768 = '8000' (TextOps.hashKeep's 16-bit thresholds)
    "x_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CASE
        |  WHEN lang = 'en' THEN substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |  WHEN lang = 'fr' THEN substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
        |  ELSE TRUE END
        |ORDER BY doc_id""".stripMargin,
    "x_rollup_sketch_serve" ->
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       count(*) AS n,
        |       count(value) AS n_nn,
        |       TRUE AS udd50_served_exact, TRUE AS udd95_served_exact,
        |       TRUE AS td50_rank_ok, TRUE AS td95_rank_ok
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    // same url construction; canonicalization re-derived with DuckDB's
    // own regex/list primitives from the documented rule set
    "x_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        |    || '://Ex' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
        |    || (CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
        |             WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
        |    || (CASE doc_id % 5 WHEN 0 THEN '' WHEN 1 THEN '/a/' WHEN 2 THEN '/a/b'
        |             WHEN 3 THEN '/a//' ELSE '/x' END)
        |    || (CASE doc_id % 4 WHEN 0 THEN '?b=2&utm_source=x&a=1' WHEN 1 THEN '?a=1&b=2'
        |             WHEN 2 THEN '?utm_campaign=z' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hp,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
        |  FROM u
        |), c2 AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'http' AND ends_with(hp, ':80') THEN substr(hp, 1, length(hp) - 3)
        |         WHEN scheme = 'https' AND ends_with(hp, ':443') THEN substr(hp, 1, length(hp) - 4)
        |         ELSE hp END AS host,
        |    CASE WHEN length(rtrim(rawpath, '/')) = 0 THEN '/' ELSE rtrim(rawpath, '/') END AS path,
        |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      p -> length(p) > 0 AND NOT starts_with(p, 'utm_')
        |           AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'fbclid='))), '&') AS q
        |  FROM c
        |)
        |SELECT doc_id, url,
        |       CASE WHEN scheme = '' THEN url
        |            ELSE scheme || '://' || host || path
        |                 || (CASE WHEN length(q) > 0 THEN '?' || q ELSE '' END) END AS canon
        |FROM c2 ORDER BY doc_id""".stripMargin,
    // the A-ES max-uniform draw re-derived in full: the same md5 copies
    // via list_transform/generate_series, the same 13-hex-char ranking
    // key (fixed-width lowercase hex: string order = numeric order), the
    // same id-asc tie-break
    "x_sample_weighted" ->
      """WITH keyed AS (
        |  SELECT source, doc_id,
        |         list_max(list_transform(generate_series(1, CAST(1 + doc_id % 4 AS INT)),
        |                  c -> md5('ws:' || CAST(doc_id AS VARCHAR) || ':' || CAST(c AS VARCHAR)))) AS k
        |  FROM documents
        |), ranked AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY substr(k, 1, 13) DESC, doc_id ASC) AS rnk
        |  FROM keyed
        |)
        |SELECT source, doc_id, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 20
        |ORDER BY source, rank""".stripMargin,
    // split CASE = x_split_hash's thresholds; shingle CTE = the shared
    // shingleSql; counts cast to BIGINT to match Spark's long aggregates
    "x_decontam" -> decontamSql,
    // bit-identical to x_decontam BY DESIGN: the bloom is a prefilter with
    // no false negatives and every candidate is exact-confirmed, so the
    // probabilistic structure must never show in the output
    "x_decontam_bloom" -> decontamSql,
    // the oracle's declarative window cumsum is the semantic spec; the
    // engine computes the same offsets with the distributed two-phase plan
    "x_pack_offsets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |                   ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, start_offset,
        |       start_offset // 4096 AS shard_id,
        |       CAST(CASE WHEN n_tokens = 0 THEN 0
        |                 ELSE (start_offset + n_tokens - 1) // 4096 - start_offset // 4096 + 1 END AS BIGINT) AS n_shards
        |FROM o ORDER BY doc_id""".stripMargin,
    "x_vocab_topk" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 50""".stripMargin,
    // DuckDB's own time_bucket — not a re-derivation — pins the semantics
    "x_time_bucket_width" ->
      """SELECT event_type,
        |       CAST(floor(epoch(time_bucket(INTERVAL '90 seconds', ts, TIMESTAMP '1970-01-01 00:00:30'))) AS BIGINT) AS bucket_s,
        |       count(*) AS n,
        |       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e4
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY event_type, bucket_s""".stripMargin,
    // the booleans are the gated claims (q_approx_distinct idiom): the
    // oracle owns the exact counts, the engine must land TRUE on both
    "x_rollup_distinct" ->
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS merge_associative,
        |       TRUE AS within_5pct
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    // k ≥ distinct ⇒ space-saving degenerates to exact counting (err 0)
    "x_vocab_ss" ->
      """SELECT tok, CAST(count(*) AS BIGINT) AS est, CAST(0 AS BIGINT) AS err
        |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents)
        |WHERE tok <> ''
        |GROUP BY tok
        |ORDER BY est DESC, tok ASC""".stripMargin,
    "x_quantiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_split_hash" ->
      """SELECT doc_id,
        |       CASE WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |            WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // reads the Verify-materialized expected table (independent
    // spec-derived XXH64 over the proven shingle pipeline — see
    // expectedTables); {GRAFT_EXPECTED} resolves at dump time
    "x_text_fingerprint_prod" ->
      """SELECT doc_id, fp
        |FROM read_parquet('{GRAFT_EXPECTED}/x_text_fingerprint_prod/*.parquet')
        |ORDER BY doc_id""".stripMargin,
    "x_text_fingerprint" ->
      s"""$shingleSql
         |SELECT doc_id,
         |       list_aggregate(list_transform(shingles, s -> md5(s)), 'min') AS fp,
         |       CAST(len(shingles) AS INT) AS n_shingles
         |FROM sh ORDER BY doc_id""".stripMargin,
    // full winnowing re-derivation: same corpus edit, ordered shingles,
    // md5 window-min selection (lexicographic min ≡ Spark array_min on
    // fixed-width hex), df band, posting self-join
    "x_winnow_pairs" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |         array_to_string(w[1:19], ' ') || ' zzedit ' || array_to_string(w[21:], ' ')
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |  WHERE doc_id % 5 = 0 AND len(w) >= 30
        |), words AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM base
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 5 THEN [md5(array_to_string(w, ' '))]
        |         ELSE list_transform(range(0, len(w) - 4), i -> md5(array_to_string(w[i+1:i+5], ' ')))
        |    END AS hs
        |  FROM words
        |), wf AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')]
        |         ELSE list_transform(range(0, len(hs) - 3), j -> list_aggregate(hs[j+1:j+4], 'min'))
        |    END) AS fps
        |  FROM sh
        |), ex AS (
        |  SELECT doc_id, unnest(fps) AS fp FROM wf
        |), keep AS (
        |  SELECT fp FROM ex GROUP BY fp HAVING count(*) BETWEEN 2 AND 8
        |), p AS (
        |  SELECT doc_id, fp FROM ex WHERE fp IN (SELECT fp FROM keep)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // fuzzy decontamination fully re-derived: train (even) winnowing
    // postings under the train-side df cap, eval (odd + planted edited
    // train copies) fingerprints, per-(eval, train) shared counts at
    // the pairing threshold, per-eval rollup with zero-filled
    // uncontaminated rows
    "x_decontam_winnow" -> decontamWinnowSql,
    // the stored-index form computes the identical answer on a fresh
    // build (df-capped postings ARE the artifact), so it shares the
    // full re-derivation oracle verbatim
    "x_decontam_winnow_stored" -> decontamWinnowSql,
    // stored-index winnowing admission fully re-derived: even-corpus
    // postings with the build-time df cap, batch fingerprints, the
    // bucket-pruned snapshot probe (pruning cannot change the result —
    // the oracle joins the unpruned posting set) and the in-batch df
    // band, composed into the same dup_snapshot > dup_batch > new
    // precedence
    "x_winnow_admit" ->
      """WITH evenb AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |), batchb AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |         array_to_string(w[1:19], ' ') || ' zzedit ' || array_to_string(w[21:], ' ')
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |  WHERE doc_id % 10 = 4 AND len(w) >= 30
        |  UNION ALL
        |  SELECT doc_id + 300000,
        |         array_to_string(w[1:19], ' ') || ' zzedit ' || array_to_string(w[21:], ' ')
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |  WHERE doc_id % 10 = 1 AND len(w) >= 30
        |), iw AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM evenb
        |), ish AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 5 THEN [md5(array_to_string(w, ' '))]
        |         ELSE list_transform(range(0, len(w) - 4), i -> md5(array_to_string(w[i+1:i+5], ' ')))
        |    END AS hs
        |  FROM iw
        |), ifp AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')]
        |         ELSE list_transform(range(0, len(hs) - 3), j -> list_aggregate(hs[j+1:j+4], 'min'))
        |    END)) AS fp
        |  FROM ish
        |), ipost AS (
        |  SELECT doc_id AS a_id, fp FROM ifp
        |  WHERE fp IN (SELECT fp FROM ifp GROUP BY fp HAVING count(*) <= 8)
        |), bw AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM batchb
        |), bsh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 5 THEN [md5(array_to_string(w, ' '))]
        |         ELSE list_transform(range(0, len(w) - 4), i -> md5(array_to_string(w[i+1:i+5], ' ')))
        |    END AS hs
        |  FROM bw
        |), bfp AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')]
        |         ELSE list_transform(range(0, len(hs) - 3), j -> list_aggregate(hs[j+1:j+4], 'min'))
        |    END)) AS fp
        |  FROM bsh
        |), snap AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT b.doc_id, a.a_id FROM bfp b JOIN ipost a ON a.fp = b.fp
        |    GROUP BY b.doc_id, a.a_id HAVING count(*) >= 3
        |  )
        |), pb AS (
        |  SELECT doc_id, fp FROM bfp
        |  WHERE fp IN (SELECT fp FROM bfp GROUP BY fp HAVING count(*) BETWEEN 2 AND 8)
        |), bpair AS (
        |  SELECT DISTINCT id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |    FROM pb a JOIN pb b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2 HAVING count(*) >= 3
        |  )
        |)
        |SELECT d.doc_id AS id,
        |       CASE WHEN s.doc_id IS NOT NULL THEN 'dup_snapshot'
        |            WHEN p.id_b IS NOT NULL THEN 'dup_batch'
        |            ELSE 'new' END AS status
        |FROM batchb d
        |LEFT JOIN snap s ON s.doc_id = d.doc_id
        |LEFT JOIN bpair p ON p.id_b = d.doc_id
        |ORDER BY id""".stripMargin,
    // the streamed two-batch lifecycle, batching-aware: batch 0 (even
    // docs, empty store) runs the in-batch stage only; batch 1 probes
    // the accumulated even postings under the cumulative-prior df cap
    // (≡ the build-time HAVING on this store population)
    "x_winnow_stream" ->
      """WITH evenb AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |), batchb AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |         array_to_string(w[1:19], ' ') || ' zzedit ' || array_to_string(w[21:], ' ')
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |  WHERE doc_id % 10 = 4 AND len(w) >= 30
        |  UNION ALL
        |  SELECT doc_id + 300000,
        |         array_to_string(w[1:19], ' ') || ' zzedit ' || array_to_string(w[21:], ' ')
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |  WHERE doc_id % 10 = 1 AND len(w) >= 30
        |), iw AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM evenb
        |), ish AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 5 THEN [md5(array_to_string(w, ' '))]
        |         ELSE list_transform(range(0, len(w) - 4), i -> md5(array_to_string(w[i+1:i+5], ' ')))
        |    END AS hs
        |  FROM iw
        |), ifp AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')]
        |         ELSE list_transform(range(0, len(hs) - 3), j -> list_aggregate(hs[j+1:j+4], 'min'))
        |    END)) AS fp
        |  FROM ish
        |), epb AS (
        |  SELECT doc_id, fp FROM ifp
        |  WHERE fp IN (SELECT fp FROM ifp GROUP BY fp HAVING count(*) BETWEEN 2 AND 8)
        |), epair AS (
        |  SELECT DISTINCT id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |    FROM epb a JOIN epb b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2 HAVING count(*) >= 3
        |  )
        |), dec1 AS (
        |  SELECT e.doc_id AS id,
        |         CASE WHEN p.id_b IS NOT NULL THEN 'dup_batch' ELSE 'new' END AS status
        |  FROM evenb e LEFT JOIN epair p ON p.id_b = e.doc_id
        |), ipost AS (
        |  SELECT doc_id AS a_id, fp FROM ifp
        |  WHERE fp IN (SELECT fp FROM ifp GROUP BY fp HAVING count(*) <= 8)
        |), bw AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM batchb
        |), bsh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 5 THEN [md5(array_to_string(w, ' '))]
        |         ELSE list_transform(range(0, len(w) - 4), i -> md5(array_to_string(w[i+1:i+5], ' ')))
        |    END AS hs
        |  FROM bw
        |), bfp AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')]
        |         ELSE list_transform(range(0, len(hs) - 3), j -> list_aggregate(hs[j+1:j+4], 'min'))
        |    END)) AS fp
        |  FROM bsh
        |), snap AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT b.doc_id, a.a_id FROM bfp b JOIN ipost a ON a.fp = b.fp
        |    GROUP BY b.doc_id, a.a_id HAVING count(*) >= 3
        |  )
        |), pb AS (
        |  SELECT doc_id, fp FROM bfp
        |  WHERE fp IN (SELECT fp FROM bfp GROUP BY fp HAVING count(*) BETWEEN 2 AND 8)
        |), bpair AS (
        |  SELECT DISTINCT id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |    FROM pb a JOIN pb b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2 HAVING count(*) >= 3
        |  )
        |), dec2 AS (
        |  SELECT d.doc_id AS id,
        |         CASE WHEN s.doc_id IS NOT NULL THEN 'dup_snapshot'
        |              WHEN p.id_b IS NOT NULL THEN 'dup_batch'
        |              ELSE 'new' END AS status
        |  FROM batchb d
        |  LEFT JOIN snap s ON s.doc_id = d.doc_id
        |  LEFT JOIN bpair p ON p.id_b = d.doc_id
        |)
        |SELECT id, status FROM (
        |  SELECT id, status FROM dec1 UNION ALL SELECT id, status FROM dec2
        |) ORDER BY id""".stripMargin,
    // the composed five-stage ingest pipeline, re-derived end-to-end and
    // BATCHING-AWARE: recut corpus + plants, md5-paragraph cumulative
    // boilerplate (batch 0 vs cumulative), one-shot string-10-gram
    // substring strip over the cleaned texts (valid because ids are
    // monotone across batches), the portable md5 winnowing selection
    // with both df scopes per batch, closed-form LCG-block sketches +
    // brute-force bit_count Hamming over the winnow survivors, and
    // exact double cosine vs the same parquet embeddings for the fixed
    // reference-index screen over the perceptual survivors. CTEs are
    // MATERIALIZED: the stage chain is deep and multiply-referenced,
    // and inlining re-evaluates the whole upstream per reference.
    "x_pipeline_ingest_stream" ->
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |), w0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM d0
        |), organic AS MATERIALIZED (
        |  SELECT doc_id, concat_ws(chr(10),
        |    array_to_string(ws[1:12], ' '),
        |    coalesce(array_to_string(ws[13:], ' '), ''),
        |    CASE WHEN doc_id % 6 = 0 THEN 'subscribe to our newsletter' END,
        |    CASE WHEN doc_id % 15 = 0 THEN 'edge crossing notice' END) AS text
        |  FROM w0
        |), ob AS MATERIALIZED (
        |  SELECT doc_id AS bid, text FROM organic WHERE doc_id < 250
        |), pA AS (
        |  SELECT bid + 100000 AS doc_id, 'xdupsalt ' || text AS text
        |  FROM ob WHERE bid % 30 = 0
        |), pB AS (
        |  SELECT bid + 200000 AS doc_id,
        |    array_to_string(list_transform(string_split_regex(trim(text), '\s+'),
        |      (w, i) -> CASE WHEN (i - 1) % 8 = 7
        |                THEN 'zed' || (bid + 200000) || 'x' || (i - 1) ELSE w END), ' ') AS text
        |  FROM ob WHERE bid % 30 = 6
        |), synth AS MATERIALIZED (
        |  SELECT bid, stripe, off, pfx,
        |    array_to_string(list_transform(range(1, 13),
        |      j -> pfx || (bid + off) || 't' || j), ' ') AS text
        |  FROM ob, (VALUES (12, 400000, 'cc'), (18, 450000, 'dd'), (18, 460000, 'de'),
        |                   (24, 500000, 'ee'), (21, 550000, 'ff'), (21, 560000, 'fg'))
        |            v(stripe, off, pfx)
        |  WHERE bid % 30 = stripe
        |), corpus AS MATERIALIZED (
        |  SELECT doc_id, text FROM organic
        |  UNION ALL SELECT doc_id, text FROM pA
        |  UNION ALL SELECT doc_id, text FROM pB
        |  UNION ALL SELECT bid + off AS doc_id, text FROM synth
        |), pl AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ps FROM corpus
        |), paras AS (
        |  SELECT doc_id, CAST(unnest(range(1, len(ps) + 1)) AS INT) AS pos, ps FROM pl
        |), p2 AS (
        |  SELECT doc_id, pos, ps[pos] AS para, md5(ps[pos]) AS ph FROM paras
        |), counts AS (
        |  SELECT ph,
        |         count(DISTINCT CASE WHEN doc_id < 250 THEN doc_id END) AS c0,
        |         count(DISTINCT doc_id) AS ctot
        |  FROM p2 GROUP BY 1
        |), flag1 AS (
        |  SELECT p.doc_id, p.pos, p.para,
        |         CASE WHEN p.doc_id < 250 THEN c.c0 >= 25 ELSE c.ctot >= 25 END AS is_b
        |  FROM p2 p JOIN counts c USING (ph)
        |), clean1 AS MATERIALIZED (
        |  SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN NOT is_b THEN para END, chr(10) ORDER BY pos), '') AS text
        |  FROM flag1 GROUP BY doc_id
        |), sbase AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
        |         len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM clean1
        |), grams AS (
        |  SELECT doc_id, gs.pos,
        |         array_to_string(ws[gs.pos + 1 : gs.pos + 10], ' ') AS g
        |  FROM sbase, LATERAL (
        |    SELECT unnest(generate_series(0, n_tokens - 10)) AS pos) gs
        |  WHERE n_tokens >= 10
        |), occ AS (
        |  SELECT g, count(*) AS cnt,
        |         min(doc_id * 1048576 + pos) AS firstkey
        |  FROM grams GROUP BY g
        |), fl AS (
        |  SELECT grams.doc_id, grams.pos
        |  FROM grams JOIN occ ON grams.g = occ.g
        |  WHERE occ.cnt >= 2
        |    AND grams.doc_id * 1048576 + grams.pos <> occ.firstkey
        |), sp AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
        |              THEN 1 ELSE 0 END AS ns
        |  FROM fl
        |), sp2 AS (
        |  SELECT doc_id, pos,
        |         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM sp
        |), spans AS (
        |  SELECT doc_id, sid, min(pos) AS s, max(pos) + 10 AS e
        |  FROM sp2 GROUP BY doc_id, sid
        |), toks AS (
        |  SELECT doc_id, gs.pos, ws[gs.pos + 1] AS w
        |  FROM sbase, LATERAL (
        |    SELECT unnest(generate_series(0, n_tokens - 1)) AS pos) gs
        |), keptt AS (
        |  SELECT t.doc_id, t.pos, t.w
        |  FROM toks t LEFT JOIN spans z
        |    ON t.doc_id = z.doc_id AND t.pos >= z.s AND t.pos < z.e
        |  WHERE z.doc_id IS NULL
        |), clean2 AS MATERIALIZED (
        |  SELECT sbase.doc_id,
        |         coalesce(o.stripped_text, '') AS text
        |  FROM sbase LEFT JOIN (
        |    SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS stripped_text
        |    FROM keptt GROUP BY doc_id) o ON sbase.doc_id = o.doc_id
        |), ww AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM clean2
        |), wsh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) <= 4 THEN [md5(array_to_string(w, ' '))]
        |         ELSE list_transform(range(0, len(w) - 3), i -> md5(array_to_string(w[i+1:i+4], ' ')))
        |    END AS hs
        |  FROM ww
        |), wfp AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(hs) <= 3 THEN [list_aggregate(hs, 'min')]
        |         ELSE list_transform(range(0, len(hs) - 2), j -> list_aggregate(hs[j+1:j+3], 'min'))
        |    END)) AS fp
        |  FROM wsh
        |), fp0 AS MATERIALIZED (
        |  SELECT doc_id, fp FROM wfp WHERE doc_id < 250
        |), fp1 AS MATERIALIZED (
        |  SELECT doc_id, fp FROM wfp WHERE doc_id >= 250
        |), epb AS (
        |  SELECT doc_id, fp FROM fp0
        |  WHERE fp IN (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) BETWEEN 2 AND 8)
        |), epair AS (
        |  SELECT DISTINCT id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |    FROM epb a JOIN epb b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2 HAVING count(*) >= 3
        |  )
        |), wst0 AS (
        |  SELECT c.doc_id,
        |         CASE WHEN p.id_b IS NOT NULL THEN 'dup_batch' ELSE 'new' END AS winnow_status
        |  FROM (SELECT doc_id FROM clean2 WHERE doc_id < 250) c
        |  LEFT JOIN epair p ON p.id_b = c.doc_id
        |), ipost AS (
        |  SELECT doc_id AS a_id, fp FROM fp0
        |  WHERE fp IN (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) <= 8)
        |), wsnap AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT b.doc_id, a.a_id FROM fp1 b JOIN ipost a ON a.fp = b.fp
        |    GROUP BY b.doc_id, a.a_id HAVING count(*) >= 3
        |  )
        |), pb1 AS (
        |  SELECT doc_id, fp FROM fp1
        |  WHERE fp IN (SELECT fp FROM fp1 GROUP BY fp HAVING count(*) BETWEEN 2 AND 8)
        |), bpair AS (
        |  SELECT DISTINCT id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |    FROM pb1 a JOIN pb1 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2 HAVING count(*) >= 3
        |  )
        |), wst1 AS (
        |  SELECT c.doc_id,
        |         CASE WHEN s.doc_id IS NOT NULL THEN 'dup_snapshot'
        |              WHEN p.id_b IS NOT NULL THEN 'dup_batch'
        |              ELSE 'new' END AS winnow_status
        |  FROM (SELECT doc_id FROM clean2 WHERE doc_id >= 250) c
        |  LEFT JOIN wsnap s ON s.doc_id = c.doc_id
        |  LEFT JOIN bpair p ON p.id_b = c.doc_id
        |), wstat AS MATERIALIZED (
        |  SELECT * FROM wst0 UNION ALL SELECT * FROM wst1
        |), skspec AS (
        |  SELECT doc_id, doc_id AS g, 0 AS fl FROM organic
        |  UNION ALL SELECT doc_id, doc_id, 0 FROM pA
        |  UNION ALL SELECT doc_id, doc_id, 0 FROM pB
        |  UNION ALL SELECT bid + off, CASE
        |      WHEN off = 400000 THEN bid
        |      WHEN off IN (450000, 460000) THEN bid + 10000000
        |      ELSE bid + off END,
        |    CASE WHEN off IN (400000, 460000) THEN 1 ELSE 0 END
        |  FROM synth
        |), skv AS (
        |  SELECT doc_id, fl,
        |    ((((g*1103515245 + 12345 + 3*2654435761) % 2147483647) % 32768 * 65536
        |      + ((g*1103515245 + 12345 + 2*2654435761) % 2147483647) % 65536) * 65536
        |      + ((g*1103515245 + 12345 + 1*2654435761) % 2147483647) % 65536) * 65536
        |      + ((g*1103515245 + 12345 + 0*2654435761) % 2147483647) % 65536 AS hh0
        |  FROM skspec
        |), sk2 AS MATERIALIZED (
        |  SELECT doc_id,
        |         CASE WHEN fl = 1 THEN hh0 + 1 - 2 * (hh0 % 2) ELSE hh0 END AS hh
        |  FROM skv
        |), surv3 AS MATERIALIZED (
        |  SELECT doc_id FROM wstat WHERE winnow_status = 'new'
        |), h0 AS MATERIALIZED (
        |  SELECT s.doc_id, s.hh FROM sk2 s JOIN surv3 USING (doc_id) WHERE s.doc_id < 250
        |), h1 AS MATERIALIZED (
        |  SELECT s.doc_id, s.hh FROM sk2 s JOIN surv3 USING (doc_id) WHERE s.doc_id >= 250
        |), hb0 AS (
        |  SELECT DISTINCT b.doc_id FROM h0 b JOIN h0 a
        |    ON a.doc_id < b.doc_id AND bit_count(xor(a.hh, b.hh)) <= 11
        |), hst0 AS (
        |  SELECT h0.doc_id,
        |         CASE WHEN hb0.doc_id IS NOT NULL THEN 'dup_batch' ELSE 'new' END AS perceptual_status
        |  FROM h0 LEFT JOIN hb0 ON h0.doc_id = hb0.doc_id
        |), hsnap1 AS (
        |  SELECT DISTINCT b.doc_id FROM h1 b JOIN h0 a
        |    ON bit_count(xor(a.hh, b.hh)) <= 11
        |), hb1 AS (
        |  SELECT DISTINCT b.doc_id FROM h1 b JOIN h1 a
        |    ON a.doc_id < b.doc_id AND bit_count(xor(a.hh, b.hh)) <= 11
        |), hst1 AS (
        |  SELECT h1.doc_id,
        |         CASE WHEN s.doc_id IS NOT NULL THEN 'dup_snapshot'
        |              WHEN p.doc_id IS NOT NULL THEN 'dup_batch'
        |              ELSE 'new' END AS perceptual_status
        |  FROM h1 LEFT JOIN hsnap1 s ON h1.doc_id = s.doc_id
        |  LEFT JOIN hb1 p ON h1.doc_id = p.doc_id
        |), hstat AS MATERIALIZED (
        |  SELECT * FROM hst0 UNION ALL SELECT * FROM hst1
        |), embspec AS (
        |  SELECT doc_id, doc_id AS src, 'id' AS kind FROM organic
        |  UNION ALL SELECT doc_id, doc_id - 100000, 'neg' FROM pA
        |  UNION ALL SELECT doc_id, doc_id - 200000, 'neg' FROM pB
        |  UNION ALL SELECT bid + off,
        |    CASE WHEN off IN (500000, 550000, 560000) THEN bid + 1 ELSE bid END,
        |    CASE WHEN off = 500000 THEN 'pert'
        |         WHEN off = 560000 THEN 'negpert'
        |         ELSE 'neg' END
        |  FROM synth
        |), bemb AS MATERIALIZED (
        |  SELECT es.doc_id,
        |    CASE es.kind
        |      WHEN 'id' THEN e.embedding
        |      WHEN 'neg' THEN list_transform(e.embedding, x -> -x)
        |      WHEN 'pert' THEN list_concat([e.embedding[1] * CAST(1.05 AS REAL)], e.embedding[2:])
        |      WHEN 'negpert' THEN list_concat([e.embedding[1] * CAST(-1.05 AS REAL)],
        |                                      list_transform(e.embedding[2:], x -> -x))
        |    END AS v
        |  FROM embspec es JOIN embeddings e ON e.vec_id = es.src
        |), ref AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 1
        |), seeds AS MATERIALIZED (
        |  SELECT vec_id AS seed_id, embedding AS seed_v FROM ref ORDER BY vec_id LIMIT 64
        |), iasg AS MATERIALIZED (
        |  SELECT vec_id AS a_id, embedding, cluster FROM (
        |    SELECT r.vec_id, r.embedding, s.seed_id AS cluster,
        |           row_number() OVER (PARTITION BY r.vec_id ORDER BY
        |             list_sum(list_transform(list_zip(r.embedding, s.seed_v),
        |                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |             / sqrt(list_sum(list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |                  * list_sum(list_transform(s.seed_v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |             DESC, s.seed_id ASC) AS rn
        |    FROM ref r, seeds s)
        |  WHERE rn = 1
        |), surv4 AS MATERIALIZED (
        |  SELECT doc_id FROM hstat WHERE perceptual_status = 'new'
        |), q5 AS MATERIALIZED (
        |  SELECT b.doc_id, b.v FROM bemb b JOIN surv4 USING (doc_id)
        |), qasg AS MATERIALIZED (
        |  SELECT doc_id, v, cluster FROM (
        |    SELECT q.doc_id, q.v, s.seed_id AS cluster,
        |           row_number() OVER (PARTITION BY q.doc_id ORDER BY
        |             list_sum(list_transform(list_zip(q.v, s.seed_v),
        |                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |             / sqrt(list_sum(list_transform(q.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |                  * list_sum(list_transform(s.seed_v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |             DESC, s.seed_id ASC) AS rn
        |    FROM q5 q, seeds s)
        |  WHERE rn = 1
        |), ssnap AS (
        |  SELECT DISTINCT q.doc_id
        |  FROM qasg q JOIN iasg i ON i.cluster = q.cluster
        |  WHERE list_sum(list_transform(list_zip(q.v, i.embedding),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / sqrt(list_sum(list_transform(q.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |             * list_sum(list_transform(i.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) >= 0.9
        |), sbatch AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM qasg b JOIN qasg a ON a.cluster = b.cluster AND a.doc_id < b.doc_id
        |    AND (a.doc_id < 250) = (b.doc_id < 250)
        |  WHERE list_sum(list_transform(list_zip(a.v, b.v),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / sqrt(list_sum(list_transform(a.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |             * list_sum(list_transform(b.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) >= 0.9
        |), sstat AS MATERIALIZED (
        |  SELECT q.doc_id,
        |         CASE WHEN s.doc_id IS NOT NULL THEN 'dup_snapshot'
        |              WHEN b.doc_id IS NOT NULL THEN 'dup_batch'
        |              ELSE 'new' END AS semantic_status
        |  FROM qasg q LEFT JOIN ssnap s ON q.doc_id = s.doc_id
        |  LEFT JOIN sbatch b ON q.doc_id = b.doc_id
        |)
        |SELECT c.doc_id,
        |       cl2.text AS final_text,
        |       w.winnow_status,
        |       coalesce(h.perceptual_status, 'skipped') AS perceptual_status,
        |       coalesce(s5.semantic_status, 'skipped') AS semantic_status,
        |       (w.winnow_status = 'new'
        |         AND coalesce(h.perceptual_status, 'x') = 'new'
        |         AND coalesce(s5.semantic_status, 'x') = 'new') AS admitted
        |FROM corpus c
        |JOIN clean2 cl2 ON c.doc_id = cl2.doc_id
        |JOIN wstat w ON c.doc_id = w.doc_id
        |LEFT JOIN hstat h ON c.doc_id = h.doc_id
        |LEFT JOIN sstat s5 ON c.doc_id = s5.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    "x_dedup_minhash" -> allPairsJaccardSql,
    "x_dedup_simhash" -> allPairsJaccardSql,
    "x_dedup_exact" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |       count(*) AS n_unique,
        |       CAST(sum(kept_id) AS BIGINT) AS sum_kept_ids
        |FROM (SELECT min(doc_id) AS kept_id FROM documents GROUP BY text)""".stripMargin,
    "x_dedup_ngram_jaccard" ->
      s"""$shingleSql, ex AS (
         |  SELECT doc_id, CAST(len(shingles) AS INT) AS sz, unnest(shingles) AS sh FROM sh
         |), rare AS (
         |  SELECT doc_id, sz, sh FROM (
         |    SELECT *, count(*) OVER (PARTITION BY sh) AS df FROM ex
         |  ) WHERE df <= 100
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.sz AS size_a, b.sz AS size_b, count(*) AS inter
         |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT id_a, id_b, inter, size_a, size_b,
         |       round(CAST(inter AS DOUBLE) / (size_a + size_b - inter), 4) AS jaccard
         |FROM pairs
         |WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    // cosine in explicit double math (list_sum is a sequential double
    // accumulation — bit-identical to the engine's CosineSimilarity loop;
    // DuckDB's list_cosine_similarity computes in float and is NOT exact)
    "x_sim_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
        |     scored AS (
        |       SELECT q_id, n_id,
        |              list_sum(list_transform(list_zip(q_vec, n_vec),
        |                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |              / sqrt(list_sum(list_transform(q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |                   * list_sum(list_transform(n_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
        |       FROM q, c WHERE q_id <> n_id
        |     ), ranked AS (
        |       SELECT q_id, n_id,
        |              CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INT) AS rank
        |       FROM scored
        |     )
        |SELECT q_id, n_id, rank FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "x_dedup_embedding" ->
      """SELECT id_a, id_b FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |         / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |              * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |) WHERE cos >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "x_dedup_embedding_lsh" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |         list_concat([embedding[1] * CAST(1.05 AS REAL)], embedding[2:])
        |  FROM embeddings WHERE vec_id % 5 = 0
        |)
        |SELECT id_a, id_b FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |         / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |              * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
        |  FROM corpus a, corpus b
        |  WHERE a.vec_id < b.vec_id
        |) WHERE cos >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // SemDeDup oracle: identical seed set (lowest-64 ids), identical
    // nearest-seed assignment (row_number mirrors max(struct(cos,-sid))
    // — same ORDER BY cos DESC, seed_id ASC), identical within-cell
    // keep-lowest-id prune; comparisons only touch doubles far from any
    // boundary (copies ≥ 0.9997, organic ≤ ~0.65)
    "x_semantic_dedup" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |         list_concat([embedding[1] * CAST(1.05 AS REAL)], embedding[2:])
        |  FROM embeddings WHERE vec_id % 5 = 0
        |), seeds AS (
        |  SELECT vec_id AS seed_id, embedding AS seed_v
        |  FROM corpus ORDER BY vec_id LIMIT 64
        |), sc AS (
        |  SELECT c.vec_id AS id, c.embedding, s.seed_id,
        |         list_sum(list_transform(list_zip(c.embedding, s.seed_v),
        |                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |         / sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |              * list_sum(list_transform(s.seed_v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cs
        |  FROM corpus c, seeds s
        |), asg AS (
        |  SELECT id, embedding, seed_id AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id
        |                                 ORDER BY cs DESC, seed_id ASC) AS rn
        |    FROM sc)
        |  WHERE rn = 1
        |), dr AS (
        |  SELECT DISTINCT b.id AS id
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |             * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) >= 0.9
        |)
        |SELECT asg.id AS vec_id, cluster, dr.id IS NULL AS kept
        |FROM asg LEFT JOIN dr ON asg.id = dr.id
        |ORDER BY vec_id""".stripMargin,
    // same md5 split, both sides assigned against the TRAIN seeds, one
    // cross-side in-cell cosine probe — equals the engine's index path
    "x_decontam_semantic" ->
      """WITH spl AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN substr(md5('graft:' || CAST(vec_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |              WHEN substr(md5('graft:' || CAST(vec_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM embeddings
        |), train AS (
        |  SELECT vec_id, embedding FROM spl WHERE split = 'train'
        |), ev AS (
        |  SELECT vec_id, embedding FROM spl WHERE split <> 'train'
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |         list_concat([embedding[1] * CAST(1.05 AS REAL)], embedding[2:])
        |  FROM train WHERE vec_id % 7 = 0
        |), allv AS (
        |  SELECT 0 AS side, vec_id, embedding FROM train
        |  UNION ALL
        |  SELECT 1, vec_id, embedding FROM ev
        |), seeds AS (
        |  SELECT vec_id AS seed_id, embedding AS seed_v
        |  FROM train ORDER BY vec_id LIMIT 64
        |), sc AS (
        |  SELECT c.side, c.vec_id AS id, c.embedding, s.seed_id,
        |         list_sum(list_transform(list_zip(c.embedding, s.seed_v),
        |                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |         / sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |              * list_sum(list_transform(s.seed_v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cs
        |  FROM allv c, seeds s
        |), asg AS (
        |  SELECT side, id, embedding, seed_id AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY side, id
        |                                 ORDER BY cs DESC, seed_id ASC) AS rn
        |    FROM sc)
        |  WHERE rn = 1
        |), hit AS (
        |  SELECT DISTINCT b.id
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster
        |   AND a.side = 0 AND b.side = 1
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |             * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) >= 0.9
        |)
        |SELECT asg.id AS vec_id, cluster, hit.id IS NOT NULL AS contaminated
        |FROM asg LEFT JOIN hit ON asg.id = hit.id
        |WHERE asg.side = 1
        |ORDER BY vec_id""".stripMargin,
    // full SemDeDup over index ∪ batch, statuses classified from the
    // same in-cell pair sets split by which side the earlier partner
    // sits on — equals the engine's O(batch) admission path
    "x_semantic_incr" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |         list_concat([embedding[1] * CAST(1.05 AS REAL)], embedding[2:])
        |  FROM embeddings WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + 3000000,
        |         list_transform(embedding, x -> -x)
        |  FROM embeddings WHERE vec_id % 7 = 3
        |  UNION ALL
        |  SELECT vec_id + 4000000,
        |         list_concat([embedding[1] * CAST(-1.05 AS REAL)],
        |                     list_transform(embedding[2:], x -> -x))
        |  FROM embeddings WHERE vec_id % 7 = 3
        |), seeds AS (
        |  SELECT vec_id AS seed_id, embedding AS seed_v
        |  FROM corpus ORDER BY vec_id LIMIT 64
        |), sc AS (
        |  SELECT c.vec_id AS id, c.embedding, s.seed_id,
        |         list_sum(list_transform(list_zip(c.embedding, s.seed_v),
        |                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |         / sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |              * list_sum(list_transform(s.seed_v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cs
        |  FROM corpus c, seeds s
        |), asg AS (
        |  SELECT id, embedding, seed_id AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id
        |                                 ORDER BY cs DESC, seed_id ASC) AS rn
        |    FROM sc)
        |  WHERE rn = 1
        |), pairs AS (
        |  SELECT a.id AS a_id, b.id AS b_id
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
        |  WHERE b.id >= 1000000
        |    AND list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |        / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |             * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) >= 0.9
        |), st AS (
        |  SELECT b_id AS id,
        |         max(CASE WHEN a_id < 1000000 THEN 1 ELSE 0 END) AS has_snap,
        |         max(CASE WHEN a_id >= 1000000 THEN 1 ELSE 0 END) AS has_batch
        |  FROM pairs GROUP BY b_id
        |)
        |SELECT asg.id AS vec_id, cluster,
        |       CASE WHEN st.has_snap = 1 THEN 'dup_snapshot'
        |            WHEN st.has_batch = 1 THEN 'dup_batch'
        |            ELSE 'new' END AS status
        |FROM asg LEFT JOIN st ON asg.id = st.id
        |WHERE asg.id >= 1000000
        |ORDER BY vec_id""".stripMargin,
    // planted-cluster ANN top-k gates: the oracle brute-forces the SAME
    // augmented corpus (source ∪ ×1.01…×1.05 copies, ×0.995 queries) in
    // exact double cosine — candidate coverage is the engine's job; once
    // covered, its exact rescore must reproduce this ranking bit-for-bit
    "x_sim_lsh_topk" ->
      """WITH src AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |     corpus AS (
        |       SELECT vec_id, embedding FROM embeddings
        |       UNION ALL SELECT vec_id + 1000000, list_concat([embedding[1] * CAST(1.01 AS REAL)], embedding[2:]) FROM src
        |       UNION ALL SELECT vec_id + 2000000, list_concat([embedding[1] * CAST(1.02 AS REAL)], embedding[2:]) FROM src
        |       UNION ALL SELECT vec_id + 3000000, list_concat([embedding[1] * CAST(1.03 AS REAL)], embedding[2:]) FROM src
        |       UNION ALL SELECT vec_id + 4000000, list_concat([embedding[1] * CAST(1.04 AS REAL)], embedding[2:]) FROM src
        |       UNION ALL SELECT vec_id + 5000000, list_concat([embedding[1] * CAST(1.05 AS REAL)], embedding[2:]) FROM src
        |     ),
        |     q AS (SELECT vec_id + 9000000 AS q_id,
        |                  list_concat([embedding[1] * CAST(0.995 AS REAL)], embedding[2:]) AS q_vec
        |           FROM src),
        |     scored AS (
        |       SELECT q_id, corpus.vec_id AS n_id,
        |              list_sum(list_transform(list_zip(q_vec, embedding),
        |                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |              / sqrt(list_sum(list_transform(q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |                   * list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
        |       FROM q, corpus
        |     ), ranked AS (
        |       SELECT q_id, n_id,
        |              CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INT) AS rank
        |       FROM scored
        |     )
        |SELECT q_id, n_id, rank FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "x_sim_ivf_topk" ->
      """WITH src AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |     corpus AS (
        |       SELECT vec_id, embedding FROM embeddings
        |       UNION ALL SELECT vec_id + 1000000, list_concat([embedding[1] * CAST(1.01 AS REAL)], embedding[2:]) FROM src
        |       UNION ALL SELECT vec_id + 2000000, list_concat([embedding[1] * CAST(1.02 AS REAL)], embedding[2:]) FROM src
        |       UNION ALL SELECT vec_id + 3000000, list_concat([embedding[1] * CAST(1.03 AS REAL)], embedding[2:]) FROM src
        |       UNION ALL SELECT vec_id + 4000000, list_concat([embedding[1] * CAST(1.04 AS REAL)], embedding[2:]) FROM src
        |       UNION ALL SELECT vec_id + 5000000, list_concat([embedding[1] * CAST(1.05 AS REAL)], embedding[2:]) FROM src
        |     ),
        |     q AS (SELECT vec_id + 9000000 AS q_id,
        |                  list_concat([embedding[1] * CAST(0.995 AS REAL)], embedding[2:]) AS q_vec
        |           FROM src),
        |     scored AS (
        |       SELECT q_id, corpus.vec_id AS n_id,
        |              list_sum(list_transform(list_zip(q_vec, embedding),
        |                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |              / sqrt(list_sum(list_transform(q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |                   * list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
        |       FROM q, corpus
        |     ), ranked AS (
        |       SELECT q_id, n_id,
        |              CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INT) AS rank
        |       FROM scored
        |     )
        |SELECT q_id, n_id, rank FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // planted-neighbor ANN gates: the injected copy is its source's
    // nearest neighbor by construction (cos ≥ 0.9997 vs ≤ ~0.65 corpus
    // background), so rank-1 retrieval must return the identity mapping
    "x_sim_lsh_planted" ->
      """SELECT vec_id + 1000000 AS q_id, vec_id AS n_id
        |FROM embeddings WHERE vec_id % 20 = 0 ORDER BY q_id""".stripMargin,
    "x_sim_ivf_planted" ->
      """SELECT vec_id + 1000000 AS q_id, vec_id AS n_id
        |FROM embeddings WHERE vec_id % 20 = 0 ORDER BY q_id""".stripMargin,
    "x_sim_pq_planted" ->
      """SELECT vec_id + 1000000 AS q_id, vec_id AS n_id
        |FROM embeddings WHERE vec_id % 20 = 0 ORDER BY q_id""".stripMargin,
    "x_sim_ivfpq_planted" ->
      """SELECT vec_id + 1000000 AS q_id, vec_id AS n_id
        |FROM embeddings WHERE vec_id % 20 = 0 ORDER BY q_id""".stripMargin,
    // measured recall@10 vs exact over the ORGANIC distribution: the
    // Spark side computes the recalls; the oracle pins the CONTRACT as
    // fixed-TRUE rows — every operating point clears its calibrated
    // floor, and every family's recall curve is monotone in its probe/
    // candidate budget (a superset candidate set can't lose recall)
    "x_sim_recall_curve" ->
      """SELECT * FROM (VALUES
        |  ('ivf_np1', 80, TRUE, TRUE),
        |  ('ivf_np2', 84, TRUE, TRUE),
        |  ('ivf_np4', 87, TRUE, TRUE),
        |  ('ivfpq_np4_c32', 80, TRUE, TRUE),
        |  ('lsh_p8_mp0', 15, TRUE, TRUE),
        |  ('lsh_p8_mp1', 40, TRUE, TRUE),
        |  ('pq_c16', 45, TRUE, TRUE),
        |  ('pq_c64', 85, TRUE, TRUE))
        |  AS t(method, floor_e2, ok, mono_ok)
        |ORDER BY method""".stripMargin,
    "x_video_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST(1 + n_chars % 8 AS INT) AS n_frames,
        |       CAST(1 + n_chars % 32 AS INT) AS width_decoded,
        |       CAST(1 + n_chars % 24 AS INT) AS height_decoded,
        |       CAST((1 + n_chars % 8) * (1 + n_chars % 32) * (1 + n_chars % 24) AS BIGINT) AS n_px_total
        |FROM documents ORDER BY media_id""".stripMargin,
    "x_audio_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST(1 + n_chars % 4001 AS INT) AS n_samples,
        |       CAST(8000 AS INT) AS sample_rate,
        |       CAST(((1 + n_chars % 4001) * 1000) // 8000 AS BIGINT) AS duration_ms_decoded
        |FROM documents ORDER BY media_id""".stripMargin,
    // the decoded-content checksums in closed form: the fixture's pixel /
    // sample streams are an LCG (s' = s·A + C mod 2^64; value =
    // (s >>> 40) masked), so a recursive CTE of affine-map powers
    // (a_k, b_k) with f^k(seed) = a_k·seed + b_k lets DuckDB reproduce
    // every decoded sum — image pixel i uses f^(i+2)(doc_id), audio
    // sample i uses f^(i+2)(doc_id) as a SIGNED 16-bit value, video frame
    // j reseeds at doc_id·131 + j. This cross-checks the whole real
    // encode→decode path (PNG/WAV/GRVI) against pure integer arithmetic.
    "x_multimodal_features" ->
      """WITH RECURSIVE aff(k, a, b) AS (
        |  SELECT 1,
        |         CAST(6364136223846793005 AS HUGEINT),
        |         CAST(1442695040888963407 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1,
        |         (a * 6364136223846793005) % 18446744073709551616,
        |         (b * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM aff WHERE k < 4002
        |),
        |imgs AS (
        |  SELECT doc_id AS media_id,
        |         (1 + n_chars % 64) * (1 + n_chars % 48) AS n
        |  FROM documents WHERE doc_id % 3 = 0
        |),
        |img_sum AS (
        |  SELECT media_id, 'image' AS kind,
        |         CAST(SUM(((aff.a * media_id + aff.b) % 18446744073709551616
        |               // 1099511627776) % 16777216) AS BIGINT) AS checksum
        |  FROM imgs JOIN aff ON aff.k BETWEEN 2 AND n + 1
        |  GROUP BY media_id
        |),
        |auds AS (
        |  SELECT doc_id AS media_id, 1 + n_chars % 4001 AS n
        |  FROM documents WHERE doc_id % 3 = 1
        |),
        |aud_sum AS (
        |  SELECT media_id, 'audio' AS kind,
        |         CAST(SUM(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS BIGINT) AS checksum
        |  FROM (
        |    SELECT media_id,
        |           ((aff.a * media_id + aff.b) % 18446744073709551616
        |            // 1099511627776) % 65536 AS v
        |    FROM auds JOIN aff ON aff.k BETWEEN 2 AND n + 1
        |  ) GROUP BY media_id
        |),
        |vids AS (
        |  SELECT doc_id AS media_id,
        |         (1 + n_chars % 32) * (1 + n_chars % 24) AS npx,
        |         1 + n_chars % 8 AS nf
        |  FROM documents WHERE doc_id % 3 = 2
        |),
        |vid_sum AS (
        |  SELECT media_id, 'video' AS kind,
        |         CAST(SUM(((aff.a * ((media_id * 131 + f.j) % 18446744073709551616) + aff.b)
        |               % 18446744073709551616 // 1099511627776) % 16777216) AS BIGINT) AS checksum
        |  FROM vids, range(0, 8) f(j), aff
        |  WHERE f.j < nf AND aff.k BETWEEN 2 AND npx + 1
        |  GROUP BY media_id
        |)
        |SELECT * FROM img_sum
        |UNION ALL SELECT * FROM aud_sum
        |UNION ALL SELECT * FROM vid_sum
        |ORDER BY media_id""".stripMargin,
    "x_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST(1 + n_chars % 64 AS INT) AS width_decoded,
        |       CAST(1 + n_chars % 48 AS INT) AS height_decoded,
        |       (1 + n_chars % 64) * (1 + n_chars % 48) AS n_px
        |FROM documents ORDER BY media_id""".stripMargin,
    "x_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(n_chars % 640 AS INT) AS width,
        |       CAST(n_chars % 480 AS INT) AS height,
        |       CAST(n_chars * 10 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,
    "x_text_tokens" ->
      """SELECT doc_id,
        |       CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INT) END AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpeish_tokens,
        |       CAST(length(text) AS INT) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,
    // bigram-LM scoring re-derived end-to-end: same md5 reference
    // selection, same bigram counts, the same pure-integer
    // round-half-up e6 probability ((2e6·c2 + c1) // (2·c1) — `//`
    // floors and `div` truncates, identical on these nonnegative
    // operands)
    "x_text_lm_score" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
        |), ref AS (
        |  SELECT doc_id, ws FROM base
        |  WHERE substr(md5('lmref:' || doc_id), 1, 4) < '4000'
        |), refbg AS (
        |  SELECT ws[gs.i] AS w1, ws[gs.i + 1] AS w2
        |  FROM ref, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) gs
        |), c2 AS (
        |  SELECT w1, w2, count(*) AS c2 FROM refbg GROUP BY 1, 2
        |), c1 AS (
        |  SELECT w1, count(*) AS c1 FROM refbg GROUP BY 1
        |), docbg AS (
        |  SELECT doc_id, ws[gs.i] AS w1, ws[gs.i + 1] AS w2
        |  FROM base, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) gs
        |), sc AS (
        |  SELECT d.doc_id,
        |         count(*) AS n_bigrams,
        |         sum(CASE WHEN c1.c1 IS NOT NULL THEN 1 ELSE 0 END) AS n_ctx,
        |         sum(CASE WHEN c2.c2 IS NOT NULL THEN 1 ELSE 0 END) AS n_hit,
        |         sum(CASE WHEN c1.c1 IS NOT NULL AND c2.c2 IS NOT NULL
        |                  THEN (2000000 * c2.c2 + c1.c1) // (2 * c1.c1)
        |                  ELSE 0 END) AS sum_p_e6
        |  FROM docbg d
        |  LEFT JOIN c1 USING (w1)
        |  LEFT JOIN c2 USING (w1, w2)
        |  GROUP BY 1
        |)
        |SELECT b.doc_id,
        |       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CAST(coalesce(n_ctx, 0) AS BIGINT) AS n_ctx,
        |       CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
        |       CAST(coalesce(sum_p_e6, 0) AS BIGINT) AS sum_p_e6
        |FROM base b LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // full BM25 re-derivation: same tokenization, tf/df/dl/avgdl, the
    // Okapi formula with ln — per-term e6 longs integer-summed, rank 1
    // by (score desc, doc_id). Only integer columns are compared; the
    // planted df=1 term makes rank-1 identity ln-ulp-proof.
    "x_text_bm25" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 50 = 7 THEN text || ' zzq' || doc_id
        |              ELSE text END AS text
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM corpus
        |), toks AS (
        |  SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM base
        |), tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM toks WHERE term <> '' GROUP BY 1, 2, 3
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(ws) AS DOUBLE)) AS avgdl
        |  FROM base
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), q AS (
        |  SELECT doc_id AS q_id,
        |         'zzq' || doc_id || ' ' || array_to_string(ws[1:4], ' ') AS qtext
        |  FROM base WHERE doc_id % 50 = 7
        |), qterms AS (
        |  SELECT DISTINCT q_id, t.term
        |  FROM q, unnest(string_split_regex(trim(qtext), '\s+')) AS t(term)
        |  WHERE t.term <> ''
        |), perterm AS (
        |  SELECT qt.q_id, tf.doc_id,
        |         CAST(floor(
        |           ln(1 + (s.n - df + 0.5) / (df + 0.5))
        |             * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / s.avgdl))
        |             * 1e6 + 0.5) AS BIGINT) AS score_e6,
        |         tf.tf AS tf
        |  FROM tf
        |  JOIN dfreq USING (term)
        |  JOIN qterms qt USING (term)
        |  CROSS JOIN stats s
        |), perdoc AS (
        |  SELECT q_id, doc_id, sum(score_e6) AS score_e6,
        |         CAST(sum(tf) AS BIGINT) AS tf_sum,
        |         CAST(count(*) AS BIGINT) AS n_terms
        |  FROM perterm GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_e6 DESC, doc_id ASC) AS r
        |  FROM perdoc
        |)
        |SELECT q_id, doc_id, tf_sum, n_terms FROM ranked WHERE r = 1
        |ORDER BY q_id""".stripMargin,
    // the same blind full-scan BM25 re-derivation over the block-max
    // gate's planted-gradient corpus: the oracle knows nothing of blocks,
    // impact order or the certified loop — hash-equality proves the
    // early-terminated probe exact. avgdl uses the long-sum/count form
    // (the engine's mergeable stats partial), not avg().
    "x_bm25_blockmax" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN text
        |              || repeat(' za' || (doc_id % 16), CAST(doc_id % 4 + 1 AS INT))
        |              || repeat(' zb' || (doc_id % 7), CAST(doc_id % 3 + 1 AS INT))
        |              ELSE text END AS text
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM corpus
        |), toks AS (
        |  SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM base
        |), tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM toks WHERE term <> '' GROUP BY 1, 2, 3
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl
        |  FROM base
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), q AS (
        |  SELECT doc_id AS q_id,
        |         'za' || (doc_id % 16) || ' zb' || (doc_id % 7) AS qtext
        |  FROM documents WHERE doc_id % 97 = 1
        |), qterms AS (
        |  SELECT DISTINCT q_id, t.term
        |  FROM q, unnest(string_split_regex(trim(qtext), '\s+')) AS t(term)
        |  WHERE t.term <> ''
        |), perterm AS (
        |  SELECT qt.q_id, tf.doc_id,
        |         CAST(floor(
        |           ln(1 + (s.n - df + 0.5) / (df + 0.5))
        |             * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / s.avgdl))
        |             * 1e6 + 0.5) AS BIGINT) AS score_e6,
        |         tf.tf AS tf
        |  FROM tf
        |  JOIN dfreq USING (term)
        |  JOIN qterms qt USING (term)
        |  CROSS JOIN stats s
        |), perdoc AS (
        |  SELECT q_id, doc_id, sum(score_e6) AS score_e6,
        |         CAST(sum(tf) AS BIGINT) AS tf_sum,
        |         CAST(count(*) AS BIGINT) AS n_terms
        |  FROM perterm GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_e6 DESC, doc_id ASC) AS r
        |  FROM perdoc
        |)
        |SELECT q_id, doc_id, CAST(r AS INT) AS rank, tf_sum, n_terms
        |FROM ranked WHERE r <= 10
        |ORDER BY q_id, rank""".stripMargin,
    // same BM25 derivation as x_text_bm25 over the gate's one-third
    // corpus — the oracle is blind to the streamed batching because the
    // merged index is a set union of per-batch partials
    "x_bm25_stream" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 50 = 7 THEN text || ' zzq' || doc_id
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 3 = 0
        |), base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM corpus
        |), toks AS (
        |  SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM base
        |), tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM toks WHERE term <> '' GROUP BY 1, 2, 3
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl
        |  FROM base
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), q AS (
        |  SELECT doc_id AS q_id,
        |         'zzq' || doc_id || ' ' || array_to_string(ws[1:4], ' ') AS qtext
        |  FROM base WHERE doc_id % 50 = 7
        |), qterms AS (
        |  SELECT DISTINCT q_id, t.term
        |  FROM q, unnest(string_split_regex(trim(qtext), '\s+')) AS t(term)
        |  WHERE t.term <> ''
        |), perterm AS (
        |  SELECT qt.q_id, tf.doc_id,
        |         CAST(floor(
        |           ln(1 + (s.n - df + 0.5) / (df + 0.5))
        |             * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / s.avgdl))
        |             * 1e6 + 0.5) AS BIGINT) AS score_e6,
        |         tf.tf AS tf
        |  FROM tf
        |  JOIN dfreq USING (term)
        |  JOIN qterms qt USING (term)
        |  CROSS JOIN stats s
        |), perdoc AS (
        |  SELECT q_id, doc_id, sum(score_e6) AS score_e6,
        |         CAST(sum(tf) AS BIGINT) AS tf_sum,
        |         CAST(count(*) AS BIGINT) AS n_terms
        |  FROM perterm GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_e6 DESC, doc_id ASC) AS r
        |  FROM perdoc
        |)
        |SELECT q_id, doc_id, tf_sum, n_terms FROM ranked WHERE r = 1
        |ORDER BY q_id""".stripMargin,
    // full re-derivation of the boilerplate pipeline: same corpus recut,
    // md5 paragraph keys, exact distinct-doc counts, order-preserving
    // reassembly
    "x_boilerplate_strip" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
        |), corpus AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    array_to_string(ws[1:12], ' '),
        |    -- DuckDB array_to_string([]) is NULL (concat_ws would skip it);
        |    -- Spark array_join([]) is '' — align on the empty paragraph
        |    coalesce(array_to_string(ws[13:], ' '), ''),
        |    CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter' END,
        |    CASE WHEN doc_id % 7 = 0 THEN 'unique notice ' || doc_id END) AS text
        |  FROM w
        |), pl AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ps FROM corpus
        |), paras AS (
        |  SELECT doc_id, CAST(unnest(range(1, len(ps) + 1)) AS INT) AS pos, ps FROM pl
        |), p2 AS (
        |  SELECT doc_id, pos, ps[pos] AS para FROM paras
        |), boiler AS (
        |  SELECT md5(para) AS ph FROM p2
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5
        |), flagged AS (
        |  SELECT p.doc_id, p.pos, p.para, (b.ph IS NOT NULL) AS is_b
        |  FROM p2 p LEFT JOIN boiler b ON md5(p.para) = b.ph
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS INT) AS n_paras,
        |  CAST(sum(CASE WHEN NOT is_b THEN 1 ELSE 0 END) AS INT) AS kept_paras,
        |  coalesce(string_agg(CASE WHEN NOT is_b THEN para END, chr(10) ORDER BY pos), '') AS stripped_text
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the admission contract in closed form: even docs (batch 0) strip
    // against even-doc counts, odd docs (batch 1) against full-corpus
    // counts — same corpus recut as x_boilerplate_strip
    "x_boilerplate_stream" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
        |), corpus AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    array_to_string(ws[1:12], ' '),
        |    coalesce(array_to_string(ws[13:], ' '), ''),
        |    CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter' END,
        |    CASE WHEN doc_id % 7 = 0 THEN 'unique notice ' || doc_id END) AS text
        |  FROM w
        |), pl AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ps FROM corpus
        |), paras AS (
        |  SELECT doc_id, CAST(unnest(range(1, len(ps) + 1)) AS INT) AS pos, ps FROM pl
        |), p2 AS (
        |  SELECT doc_id, pos, ps[pos] AS para, md5(ps[pos]) AS ph FROM paras
        |), counts AS (
        |  SELECT ph,
        |         count(DISTINCT CASE WHEN doc_id % 2 = 0 THEN doc_id END) AS c0,
        |         count(DISTINCT doc_id) AS ctot
        |  FROM p2 GROUP BY 1
        |), flagged AS (
        |  SELECT p.doc_id, p.pos, p.para,
        |         CASE WHEN p.doc_id % 2 = 0 THEN c.c0 >= 5 ELSE c.ctot >= 5 END AS is_b
        |  FROM p2 p JOIN counts c USING (ph)
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS INT) AS n_paras,
        |  CAST(sum(CASE WHEN NOT is_b THEN 1 ELSE 0 END) AS INT) AS kept_paras,
        |  coalesce(string_agg(CASE WHEN NOT is_b THEN para END, chr(10) ORDER BY pos), '') AS stripped_text
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // full NB re-derivation: same reference slices, Laplace counts, and
    // the integer round-half-up (`//` floors ≡ Spark `div` on nonneg)
    "x_text_nb_score" ->
      """WITH pc AS (
        |  SELECT tok, count(*) AS c_pos FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        |    FROM documents WHERE doc_id % 4 = 1) WHERE tok <> '' GROUP BY 1
        |), nc AS (
        |  SELECT tok, count(*) AS c_neg FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        |    FROM documents WHERE doc_id % 4 = 3) WHERE tok <> '' GROUP BY 1
        |), model AS (
        |  SELECT coalesce(pc.tok, nc.tok) AS tok,
        |         coalesce(c_pos, 0) AS c_pos, coalesce(c_neg, 0) AS c_neg
        |  FROM pc FULL OUTER JOIN nc ON pc.tok = nc.tok
        |), dtoks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents
        |), scored AS (
        |  SELECT d.doc_id,
        |         CASE WHEN m.tok IS NOT NULL THEN 1 ELSE 0 END AS known,
        |         coalesce(m.c_pos, 0) + 1 AS a,
        |         coalesce(m.c_pos, 0) + coalesce(m.c_neg, 0) + 2 AS b
        |  FROM dtoks d LEFT JOIN model m ON d.tok = m.tok
        |  WHERE d.tok <> ''
        |), per AS (
        |  SELECT doc_id, count(*) AS n_tokens, sum(known) AS n_known,
        |         sum((2000000 * a + b) // (2 * b)) AS sum_p_e6
        |  FROM scored GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(n_known, 0) AS BIGINT) AS n_known,
        |  CAST(coalesce(sum_p_e6, 0) AS BIGINT) AS sum_p_e6
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "x_text_quality" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |             x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x))) AS n_stop,
        |         length(text) AS n_chars,
        |         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, CAST(n_stop AS INT) AS n_stop,
        |    (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0
        |          WHEN n_tokens BETWEEN 3 AND 9 THEN 0.5 ELSE 0.0 END
        |     + CASE WHEN n_tokens > 0 AND (CAST(n_chars AS DOUBLE)/n_tokens) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
        |     + CASE WHEN (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 1.0 END) <= 0.2 THEN 1.0
        |            WHEN (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 1.0 END) <= 0.4 THEN 0.5 ELSE 0.0 END
        |     + CASE WHEN n_tokens > 0 AND (CAST(n_stop AS DOUBLE)/n_tokens) >= 0.01 THEN 1.0 ELSE 0.5 END
        |    ) / 4.0 AS quality
        |  FROM f
        |)
        |SELECT doc_id, n_tokens, n_stop, round(quality, 4) AS quality FROM sc ORDER BY doc_id""".stripMargin,
    // same score CTE as x_text_quality; thresholds = quantile_cont rounded
    // to the score's 4-decimal grain (both engines' percentile interpolation
    // verified bit-equal by x_quantiles); bin = count of thresholds <= score
    "x_quality_bins" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |             x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x))) AS n_stop,
        |         length(text) AS n_chars,
        |         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, round(
        |    (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0
        |          WHEN n_tokens BETWEEN 3 AND 9 THEN 0.5 ELSE 0.0 END
        |     + CASE WHEN n_tokens > 0 AND (CAST(n_chars AS DOUBLE)/n_tokens) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
        |     + CASE WHEN (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 1.0 END) <= 0.2 THEN 1.0
        |            WHEN (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 1.0 END) <= 0.4 THEN 0.5 ELSE 0.0 END
        |     + CASE WHEN n_tokens > 0 AND (CAST(n_stop AS DOUBLE)/n_tokens) >= 0.01 THEN 1.0 ELSE 0.5 END
        |    ) / 4.0, 4) AS quality
        |  FROM f
        |), t AS (
        |  SELECT list_transform(
        |           quantile_cont(CAST(quality AS DOUBLE), [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |           x -> round(x, 4)) AS ts
        |  FROM sc
        |)
        |SELECT sc.doc_id, sc.quality,
        |       CAST(len(list_filter((SELECT ts FROM t), x -> sc.quality >= x)) AS INT) AS bin
        |FROM sc ORDER BY doc_id""".stripMargin,
    "x_text_normalize" ->
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS norm,
        |       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g'))) AS INT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_text_langid" ->
      """WITH w AS (
        |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS words FROM documents
        |), sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(words, x -> list_contains(['the','and','of','to','is','with','for'], x))) AS s_en,
        |    len(list_filter(words, x -> list_contains(['le','la','les','et','des','une','est'], x))) AS s_fr,
        |    len(list_filter(words, x -> list_contains(['el','los','las','una','es','para','con'], x))) AS s_es,
        |    len(list_filter(words, x -> list_contains(['der','die','das','und','ist','mit','ein'], x))) AS s_de,
        |    len(list_filter(words, x -> list_contains(['的','是','和','在','了','有','不'], x))) AS s_zh
        |  FROM w
        |)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(s_en, s_fr, s_es, s_de, s_zh) <= 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
        |       WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
        |       WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
        |       ELSE 'zh' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    // identical mask-spread interleave, step by step
    "x_zorder" ->
      """WITH b AS (
        |  SELECT event_id, user_id & 65535 AS ax0,
        |         (epoch_us(ts) // 3600000000) & 65535 AS bx0
        |  FROM events
        |), s1 AS (
        |  SELECT event_id, ((ax0 | (ax0 << 8)) & 16711935) AS ax1,
        |                   ((bx0 | (bx0 << 8)) & 16711935) AS bx1 FROM b
        |), s2 AS (
        |  SELECT event_id, ((ax1 | (ax1 << 4)) & 252645135) AS ax2,
        |                   ((bx1 | (bx1 << 4)) & 252645135) AS bx2 FROM s1
        |), s3 AS (
        |  SELECT event_id, ((ax2 | (ax2 << 2)) & 858993459) AS ax3,
        |                   ((bx2 | (bx2 << 2)) & 858993459) AS bx3 FROM s2
        |), s4 AS (
        |  SELECT event_id, ((ax3 | (ax3 << 1)) & 1431655765) AS sa,
        |                   ((bx3 | (bx3 << 1)) & 1431655765) AS sb FROM s3
        |)
        |SELECT event_id, CAST(sa | (sb << 1) AS BIGINT) AS zval
        |FROM s4 ORDER BY event_id""".stripMargin,
    // arg_min/arg_max are DuckDB's min_by/max_by; same µs ordering key
    "x_continuous_agg" ->
      """SELECT epoch_us(ts) // 3600000000 * 3600000000 AS win_start,
        |       event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "x_time_bucket_agg" ->
      """SELECT user_id, epoch_us(ts) // 86400000000 AS day_bucket,
        |       count(*) AS n,
        |       round(arg_min(value, epoch_us(ts)), 4) AS open_value,
        |       round(arg_max(value, epoch_us(ts)), 4) AS close_value,
        |       round(max(value), 4) AS high,
        |       round(min(value), 4) AS low
        |FROM events GROUP BY 1, 2 ORDER BY user_id, day_bucket""".stripMargin,
    // same bucket (floor-div on positive epoch micros), same max-per-bucket
    // aggregate (order-independent), same IGNORE NULLS window fills, same
    // e4 fixed-point checksum
    "x_gapfill" ->
      """WITH a AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS bucket, max(value) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), bounds AS (
        |  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM a GROUP BY user_id
        |), grid AS (
        |  SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM bounds
        |), j AS (
        |  SELECT g.user_id, g.bucket, a.v FROM grid g
        |  LEFT JOIN a ON g.user_id = a.user_id AND g.bucket = a.bucket
        |), f AS (
        |  SELECT user_id, bucket, v,
        |         last_value(v IGNORE NULLS) OVER w AS locf,
        |         last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER w AS pb,
        |         first_value(v IGNORE NULLS) OVER w2 AS nv,
        |         first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER w2 AS nb
        |  FROM j
        |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         w2 AS (PARTITION BY user_id ORDER BY bucket
        |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, count(*) AS n_buckets, count(v) AS n_actual,
        |       CAST(sum(CAST(floor(locf * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_locf_e4,
        |       CAST(sum(CAST(floor((CASE WHEN v IS NOT NULL THEN v
        |                 WHEN nv IS NOT NULL THEN locf + (nv - locf) *
        |                      (CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
        |                 ELSE locf END) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_interp_e4
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical synthetic-PII construction, identical RE2-compatible
    // patterns, identical email → IPv4 → phone chain (counts measured on
    // the progressively redacted text, like TextOps.redactPiiWithCounts)
    "x_pii_redact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
        |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at ' ||
        |         CAST(doc_id % 256 AS VARCHAR) || '.0.0.' || CAST(doc_id % 100 AS VARCHAR) AS t2
        |  FROM documents
        |), r1 AS (
        |  SELECT doc_id, t2,
        |         CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |         regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS no_email
        |  FROM t
        |), r2 AS (
        |  SELECT doc_id, n_email,
        |         CAST(len(regexp_extract_all(no_email, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
        |         regexp_replace(no_email, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS no_ip
        |  FROM r1
        |)
        |SELECT doc_id, n_email, n_ip,
        |       CAST(len(regexp_extract_all(no_ip, '\+?\d[\d() -]{6,}\d')) AS INT) AS n_phone,
        |       regexp_replace(no_ip, '\+?\d[\d() -]{6,}\d', '<PHONE>', 'g') AS redacted
        |FROM r2 ORDER BY doc_id""".stripMargin,
    // identical double math: float→double is exact, scale division /
    // floor(x/scale + 0.5) are single IEEE ops, and the error metric is a
    // MAX (order-independent) — list ops keep everything per-vector
    "x_embed_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs FROM embeddings
        |), s AS (
        |  SELECT vec_id, xs,
        |         CASE WHEN list_max(list_transform(xs, x -> abs(x))) = 0.0 THEN 1.0
        |              ELSE list_max(list_transform(xs, x -> abs(x))) / 127.0 END AS scale
        |  FROM v
        |), q AS (
        |  SELECT vec_id, xs, scale, list_transform(xs, x -> floor(x / scale + 0.5)) AS qs FROM s
        |)
        |SELECT vec_id,
        |       CAST(len(xs) AS INT) AS n_dims,
        |       round(scale, 6) AS scale6,
        |       CAST(list_sum(qs) AS BIGINT) AS sum_q,
        |       CAST(list_min(qs) AS INT) AS min_q,
        |       CAST(list_max(qs) AS INT) AS max_q,
        |       round(list_max(list_transform(range(1, len(xs) + 1),
        |             i -> abs(qs[i] * scale - xs[i]))), 9) AS err_max9
        |FROM q ORDER BY vec_id""".stripMargin,
    // the oracle reads the parquet original; the engine query reads its
    // own ORC round-trip of the same rows — equality proves the ORC
    // source path is lossless
    "x_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       count(DISTINCT lang) AS n_langs,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x_jsonl_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_avro_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same spice prefix/suffix re-derived from the parquet original —
    // equality pins the CSV writer/parser escaping round-trip
    "x_csv_roundtrip" ->
      """SELECT doc_id,
        |       md5('q=",' || chr(10) || text || '"') AS text_md5,
        |       lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identical counter construction (windowed cumsum mod 1e6), identical
    // reset-adjusted delta; rate is the one double op, a single division
    "x_counter_agg" ->
      """WITH c AS (
        |  SELECT user_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events
        |), ctr AS (
        |  SELECT user_id, ts,
        |         CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) % 1000000 AS BIGINT) AS counter
        |  FROM c
        |), d AS (
        |  SELECT user_id, epoch_us(ts) AS us, counter,
        |         counter - lag(counter) OVER (PARTITION BY user_id ORDER BY ts) AS raw
        |  FROM ctr
        |), g AS (
        |  SELECT user_id,
        |         count(*) AS n_points,
        |         count(CASE WHEN raw < 0 THEN 1 END) AS n_resets,
        |         arg_min(counter, us) AS first_v,
        |         arg_max(counter, us) AS last_v,
        |         CAST(coalesce(sum(CASE WHEN raw < 0 THEN counter ELSE raw END), 0) AS BIGINT) AS delta,
        |         (max(us) - min(us)) // 1000000 AS span_s
        |  FROM d GROUP BY user_id
        |)
        |SELECT user_id, n_points, n_resets, first_v, last_v, delta, span_s,
        |       CASE WHEN span_s > 0
        |            THEN round(CAST(delta AS DOUBLE) / span_s, 6) END AS rate_per_s
        |FROM g ORDER BY user_id""".stripMargin,
    // same e4 fixed-point value, same ms-truncated LOCF durations, same
    // exact-long weighted sum; twa re-derived with the identical
    // (wsum/1e4)/dur double expression
    "x_time_weighted" ->
      """WITH seg AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
        |         (lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |           - epoch_us(ts)) // 1000 AS dur_ms
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT user_id, count(*) AS n_points,
        |         CAST(coalesce(sum(dur_ms), 0) AS BIGINT) AS sum_dur_ms,
        |         CAST(coalesce(sum(v_e4 * dur_ms), 0) AS BIGINT) AS wsum_e4ms
        |  FROM seg GROUP BY user_id
        |)
        |SELECT user_id, n_points, sum_dur_ms, wsum_e4ms,
        |       CASE WHEN sum_dur_ms > 0
        |            THEN round((CAST(wsum_e4ms AS DOUBLE) / 10000.0) / sum_dur_ms, 4) END AS twa
        |FROM g ORDER BY user_id""".stripMargin,
    // identical floor((v-lo)/width)+1 bucketing, width = (600-0)/12 = 50
    "x_histogram" ->
      """SELECT event_type,
        |       CASE WHEN value < 0.0 THEN 0
        |            WHEN value >= 600.0 THEN 13
        |            ELSE CAST(floor((value - 0.0) / 50.0) + 1 AS INTEGER) END AS bucket,
        |       count(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    // INDEPENDENT LTTB re-derivation (Steinarsson 2013 §4.2) as a
    // recursive CTE: one step per interior bucket, carrying the 1-based
    // index of the last selected point. Bucket bounds replicate Scala's
    // `(i * every).toInt` with `every = (n-2)/22.0` computed ONCE —
    // floor(i*((n-2)/22.0)), not floor(i*(n-2)/22.0), which differs at
    // exact-multiple boundaries (e.g. n=66, i=11: 31.9999… vs 32.0).
    // The t centroid is an exact integer slice-sum divided once (the
    // Scala side matches); the v centroid and areas are left-to-right
    // folds; list_position(areas, list_max(areas)) = earliest-on-ties,
    // Scala's strict `>` argmax. Keys with n <= 24 pass through whole.
    "x_lttb" ->
      """WITH RECURSIVE pts AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, value FROM events WHERE value IS NOT NULL
        |), series AS (
        |  SELECT user_id, list(t_us ORDER BY t_us) AS ts, list(value ORDER BY t_us) AS vs,
        |         count(*)::INT AS n
        |  FROM pts GROUP BY user_id
        |), big AS (SELECT * FROM series WHERE n > 24),
        |rec AS (
        |  SELECT user_id, 0 AS i, 1 AS a, [1] AS sel FROM big
        |  UNION ALL
        |  SELECT user_id, i, best, list_append(sel, best) FROM (
        |    SELECT q3.user_id, q3.i, q3.sel,
        |           q3.bStart + list_position(q3.areas, list_max(q3.areas)) AS best
        |    FROM (
        |      SELECT q2.*, list_transform(range(q2.bStart+1, q2.bEnd+1), j ->
        |               abs( (CAST(q2.ts[q2.a] AS DOUBLE) - q2.avgT) * (q2.vs[j] - q2.vs[q2.a])
        |                  - CAST(q2.ts[q2.a] - q2.ts[j] AS DOUBLE) * (q2.avgV - q2.vs[q2.a]) )) AS areas
        |      FROM (
        |        SELECT q1.*,
        |               CAST(list_aggregate(q1.ts[q1.nStart+1 : q1.nEnd], 'sum') AS DOUBLE)
        |                 / (q1.nEnd - q1.nStart) AS avgT,
        |               list_aggregate(q1.vs[q1.nStart+1 : q1.nEnd], 'sum')
        |                 / (q1.nEnd - q1.nStart) AS avgV
        |        FROM (
        |          SELECT r.user_id, r.i + 1 AS i, r.a, r.sel, b.ts, b.vs, b.n,
        |                 CAST(floor(r.i * ((b.n-2) / 22.0)) AS INT) + 1 AS bStart,
        |                 least(CAST(floor((r.i+1) * ((b.n-2) / 22.0)) AS INT) + 1, b.n - 1) AS bEnd,
        |                 least(CAST(floor((r.i+1) * ((b.n-2) / 22.0)) AS INT) + 1, b.n - 1) AS nStart,
        |                 least(CAST(floor((r.i+2) * ((b.n-2) / 22.0)) AS INT) + 1, b.n) AS nEnd
        |          FROM rec r JOIN big b USING (user_id)
        |          WHERE r.i < 22
        |        ) q1
        |      ) q2
        |    ) q3
        |  )
        |),
        |sel24 AS (
        |  SELECT r.user_id, list_append(r.sel, b.n) AS sel, b.ts, b.vs
        |  FROM rec r JOIN big b USING (user_id) WHERE r.i = 22
        |),
        |bigout AS (
        |  SELECT user_id, ts[idx] AS t_us, vs[idx] AS value
        |  FROM (SELECT user_id, unnest(sel) AS idx, ts, vs FROM sel24)
        |),
        |smallout AS (
        |  SELECT user_id, unnest(ts) AS t_us, unnest(vs) AS value FROM series WHERE n <= 24
        |)
        |SELECT user_id, t_us, value FROM bigout
        |UNION ALL SELECT user_id, t_us, value FROM smallout
        |ORDER BY user_id, t_us""".stripMargin,
    // INDEPENDENT ASAP re-derivation (Rong & Bailis 2017): grid from
    // exact e4 long sums; planted key from exactly-representable
    // doubles (see asapGrid); acf/roughness/kurtosis as left-to-right
    // list folds (list_aggregate('sum') is a sequential fold — verified
    // against adversarial cancellation cases); the sequential
    // best-window fold expressed declaratively as argmin(rough) over
    // {kurt >= kurt0 AND rough < rough0}, smallest w on ties; maxLag
    // capped at 30 to match the gate.
    "x_asap_smooth" ->
      """WITH organic AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
        |         sum(CAST(floor(value*10000 + 0.5) AS BIGINT)) AS s_e4, count(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1,2
        |), o AS (
        |  SELECT event_type, bucket_ts, (CAST(s_e4 AS DOUBLE)/cnt)/10000.0 AS v FROM organic
        |), planted AS (
        |  SELECT 'planted_periodic' AS event_type, bucket_ts,
        |         CAST(abs((h % 24) - 12) - 6 AS DOUBLE) * 2.0
        |           + (CASE WHEN h % 101 < 3 THEN 8.0 ELSE 0.0 END)
        |           + (CASE WHEN h % 2 = 0 THEN 1.5 ELSE -1.5 END) AS v
        |  FROM (SELECT DISTINCT bucket_ts, epoch_us(bucket_ts)//3600000000 AS h FROM o)
        |), grid AS (
        |  SELECT event_type, epoch_us(bucket_ts) AS t_us, v FROM o
        |  UNION ALL SELECT event_type, epoch_us(bucket_ts), v FROM planted
        |),
        |series AS (
        |  SELECT event_type, list(t_us ORDER BY t_us) AS ts, list(v ORDER BY t_us) AS vs,
        |         count(*)::INT AS n
        |  FROM grid GROUP BY 1
        |),
        |s1 AS (SELECT *, list_aggregate(vs, 'sum') / n AS mean FROM series),
        |s2 AS (SELECT *, list_transform(vs, x -> x - mean) AS cs FROM s1),
        |s3 AS (
        |  SELECT *, list_aggregate(list_transform(cs, x -> x*x), 'sum') AS c0,
        |         least(n // 2, 30) AS maxLag
        |  FROM s2
        |),
        |s4 AS (
        |  SELECT *, CASE WHEN n >= 8 AND c0 <> 0.0 THEN
        |      list_transform(range(1, maxLag + 1), k ->
        |        list_aggregate(list_transform(range(1, n - k + 1), i -> cs[i] * cs[i+k]), 'sum') / c0)
        |    ELSE NULL END AS acf
        |  FROM s3
        |),
        |s5 AS (SELECT *, list_transform(range(1, n), i -> vs[i+1] - vs[i]) AS d0 FROM s4),
        |s6 AS (
        |  SELECT *,
        |    sqrt(list_aggregate(list_transform(d0, x ->
        |           (x - (list_aggregate(d0,'sum')/(n-1))) * (x - (list_aggregate(d0,'sum')/(n-1)))),
        |         'sum') / (n-1)) AS rough0,
        |    n * list_aggregate(list_transform(vs, x -> ((x-mean)*(x-mean))*((x-mean)*(x-mean))), 'sum')
        |      / (list_aggregate(list_transform(vs, x -> (x-mean)*(x-mean)), 'sum')
        |         * list_aggregate(list_transform(vs, x -> (x-mean)*(x-mean)), 'sum')) AS kurt0
        |  FROM s5
        |),
        |cand AS (
        |  SELECT event_type, unnest(list_filter(range(2, maxLag), l ->
        |           acf[l] > 0.2 AND acf[l] > acf[l-1] AND acf[l] >= acf[l+1])) AS w
        |  FROM s6 WHERE acf IS NOT NULL
        |),
        |scored AS (
        |  SELECT c.event_type, c.w, s.n, s.rough0, s.kurt0,
        |         sqrt(list_aggregate(list_transform(d1, x ->
        |                (x - (list_aggregate(d1,'sum')/len(d1))) * (x - (list_aggregate(d1,'sum')/len(d1)))),
        |              'sum') / len(d1)) AS rough_w,
        |         len(sm) * list_aggregate(list_transform(sm, x -> ((x-meansm)*(x-meansm))*((x-meansm)*(x-meansm))), 'sum')
        |           / (list_aggregate(list_transform(sm, x -> (x-meansm)*(x-meansm)), 'sum')
        |              * list_aggregate(list_transform(sm, x -> (x-meansm)*(x-meansm)), 'sum')) AS kurt_w
        |  FROM cand c JOIN s6 s USING (event_type),
        |  LATERAL (SELECT list_transform(range(1, s.n - c.w + 2), i ->
        |             list_aggregate(s.vs[i : i + c.w - 1], 'sum') / c.w) AS sm) l1,
        |  LATERAL (SELECT list_transform(range(1, len(sm)), i -> sm[i+1] - sm[i]) AS d1,
        |                  list_aggregate(sm,'sum')/len(sm) AS meansm) l2
        |),
        |winner AS (
        |  SELECT s.event_type,
        |         coalesce((SELECT w FROM scored sc
        |                   WHERE sc.event_type = s.event_type
        |                     AND sc.rough_w < s.rough0 AND sc.kurt_w >= s.kurt0
        |                   ORDER BY sc.rough_w ASC, sc.w ASC LIMIT 1), 1) AS w
        |  FROM s6 s
        |),
        |final AS (
        |  SELECT s.event_type, w.w, s.ts, s.n,
        |         CASE WHEN w.w <= 1 THEN s.vs
        |              ELSE list_transform(range(1, s.n - w.w + 2), i ->
        |                     list_aggregate(s.vs[i : i + w.w - 1], 'sum') / w.w) END AS sm
        |  FROM s6 s JOIN winner w USING (event_type)
        |)
        |SELECT event_type, ts[i] AS t_us, sm[i] AS v_smooth, CAST(w AS INTEGER) AS w
        |FROM (SELECT event_type, w, ts, sm, unnest(range(1, len(sm)+1)) AS i FROM final)
        |ORDER BY event_type, t_us""".stripMargin,
    // same lag/arg_max picks over the unique µs key; delta and idelta are
    // single subtractions of identical doubles, irate the one division
    "x_gauge_agg" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS us, value,
        |         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS step,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT user_id, count(*) AS n_points,
        |         arg_min(value, us) AS first_v, arg_max(value, us) AS last_v,
        |         arg_max(step, us) AS idelta_right,
        |         arg_max(gap_us, us) AS last_gap_us,
        |         (max(us) - min(us)) // 1000000 AS span_s
        |  FROM d GROUP BY user_id
        |)
        |SELECT user_id, n_points, first_v, last_v,
        |       last_v - first_v AS delta, idelta_right, span_s,
        |       CASE WHEN last_gap_us > 0
        |            THEN round(idelta_right / (CAST(last_gap_us AS DOUBLE) / 1e6), 6) END AS irate_per_s
        |FROM g ORDER BY user_id""".stripMargin,
    // identical fixed-point sufficient statistics (exact long sums), then
    // the identical double expression tree for slope/intercept/corr —
    // casts to double BEFORE the cross-products, division order preserved
    "x_stats_regr" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL
        |), x AS (
        |  SELECT user_id,
        |         (us - min(us) OVER (PARTITION BY user_id)) // 1000000 AS x, y
        |  FROM p
        |), g AS (
        |  SELECT user_id, count(*) AS n,
        |         CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |         CAST(sum(x * x) AS BIGINT) AS sum_xx,
        |         CAST(sum(x * y) AS BIGINT) AS sum_xy,
        |         CAST(sum(y * y) AS BIGINT) AS sum_yy
        |  FROM x GROUP BY user_id
        |), dv AS (
        |  SELECT *,
        |         CAST(n AS DOUBLE) * sum_xx - CAST(sum_x AS DOUBLE) * sum_x AS sxx,
        |         CAST(n AS DOUBLE) * sum_xy - CAST(sum_x AS DOUBLE) * sum_y AS sxy,
        |         CAST(n AS DOUBLE) * sum_yy - CAST(sum_y AS DOUBLE) * sum_y AS syy
        |  FROM g
        |)
        |SELECT user_id, n, sum_x, sum_y, sum_xx, sum_xy, sum_yy,
        |       CASE WHEN sxx > 0 THEN CAST(floor(sxy / sxx / 10000.0
        |              * 1000000.0 + 0.5) AS BIGINT) END AS slope_e6,
        |       CASE WHEN sxx > 0 THEN CAST(floor((CAST(sum_y AS DOUBLE) / n
        |              - sxy / sxx * (CAST(sum_x AS DOUBLE) / n)) / 10000.0
        |              * 1000000.0 + 0.5) AS BIGINT) END AS intercept_e6,
        |       CASE WHEN sxx > 0 AND syy > 0
        |            THEN CAST(floor(sxy / sqrt(sxx) / sqrt(syy)
        |              * 1000000.0 + 0.5) AS BIGINT) END AS corr_e6
        |FROM dv ORDER BY user_id""".stripMargin,
    // identical reset-adjusted cumulative counter, identical in-bucket
    // arg picks and segment-split integer terms (// mirrors Spark's div on
    // the non-negative operands), identical single rate division
    "x_counter_bucketed" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
        |  FROM events WHERE value IS NOT NULL
        |), l AS (
        |  SELECT *, lag(v4) OVER (PARTITION BY user_id ORDER BY us) AS prev
        |  FROM p
        |), r AS (
        |  SELECT *, CASE WHEN v4 < prev THEN prev ELSE 0 END AS radd FROM l
        |), a AS (
        |  SELECT *, v4 + sum(radd) OVER (PARTITION BY user_id ORDER BY us
        |                                 ROWS UNBOUNDED PRECEDING) AS adj
        |  FROM r
        |), inb AS (
        |  SELECT user_id, us // 3600000000 AS b, count(*) AS n_points,
        |         count(CASE WHEN radd > 0 THEN 1 END) AS n_resets,
        |         arg_max(adj, us) - arg_min(adj, us) AS delta_in_e4
        |  FROM a GROUP BY user_id, us // 3600000000
        |), seg AS (
        |  SELECT user_id, us, adj,
        |         lead(us)  OVER (PARTITION BY user_id ORDER BY us) AS nxt,
        |         lead(adj) OVER (PARTITION BY user_id ORDER BY us) AS nadj
        |  FROM a
        |), sp AS (
        |  SELECT user_id, us, nxt, nadj - adj AS dd, nxt - us AS len, gs.b
        |  FROM seg, LATERAL (
        |    SELECT unnest(generate_series(us // 3600000000,
        |                                  (nxt - 1) // 3600000000)) AS b
        |  ) gs
        |  WHERE nxt > us
        |), itp AS (
        |  SELECT user_id, b,
        |         CAST(sum(least(nxt, (b + 1) * 3600000000)
        |               - greatest(us, b * 3600000000)) AS BIGINT) AS covered_us,
        |         CAST(sum((dd * (least(nxt, (b + 1) * 3600000000)
        |               - greatest(us, b * 3600000000))) // len) AS BIGINT)
        |           AS delta_interp_e4
        |  FROM sp GROUP BY user_id, b
        |)
        |SELECT coalesce(inb.user_id, itp.user_id) AS user_id,
        |       coalesce(inb.b, itp.b) * 3600 AS bucket_s,
        |       coalesce(n_points, 0) AS n_points,
        |       coalesce(n_resets, 0) AS n_resets,
        |       delta_in_e4, covered_us, delta_interp_e4,
        |       CASE WHEN covered_us IS NOT NULL AND covered_us > 0
        |            THEN CAST(floor(CAST(delta_interp_e4 AS DOUBLE)
        |                   / CAST(covered_us AS DOUBLE) * 100.0
        |                   * 1000000.0 + 0.5) AS BIGINT) END AS rate_per_s_e6
        |FROM inb FULL JOIN itp
        |  ON inb.user_id = itp.user_id AND inb.b = itp.b
        |ORDER BY user_id, bucket_s""".stripMargin,
    // gauge twin: no reset carry, same arg picks and posexplode split;
    // the |Δ|-with-sign term keeps both engines on non-negative division
    "x_gauge_bucketed" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS adj
        |  FROM events WHERE value IS NOT NULL
        |), inb AS (
        |  SELECT user_id, us // 3600000000 AS b, count(*) AS n_points,
        |         arg_max(adj, us) - arg_min(adj, us) AS delta_in_e4
        |  FROM p GROUP BY user_id, us // 3600000000
        |), seg AS (
        |  SELECT user_id, us, adj,
        |         lead(us)  OVER (PARTITION BY user_id ORDER BY us) AS nxt,
        |         lead(adj) OVER (PARTITION BY user_id ORDER BY us) AS nadj
        |  FROM p
        |), sp AS (
        |  SELECT user_id, us, nxt, nadj - adj AS dd, nxt - us AS len, gs.b
        |  FROM seg, LATERAL (
        |    SELECT unnest(generate_series(us // 3600000000,
        |                                  (nxt - 1) // 3600000000)) AS b
        |  ) gs
        |  WHERE nxt > us
        |), itp AS (
        |  SELECT user_id, b,
        |         CAST(sum(least(nxt, (b + 1) * 3600000000)
        |               - greatest(us, b * 3600000000)) AS BIGINT) AS covered_us,
        |         CAST(sum(CASE WHEN dd >= 0
        |               THEN (dd * (least(nxt, (b + 1) * 3600000000)
        |                     - greatest(us, b * 3600000000))) // len
        |               ELSE -(((-dd) * (least(nxt, (b + 1) * 3600000000)
        |                     - greatest(us, b * 3600000000))) // len)
        |               END) AS BIGINT) AS delta_interp_e4
        |  FROM sp GROUP BY user_id, b
        |)
        |SELECT coalesce(inb.user_id, itp.user_id) AS user_id,
        |       coalesce(inb.b, itp.b) * 3600 AS bucket_s,
        |       coalesce(n_points, 0) AS n_points,
        |       delta_in_e4, covered_us, delta_interp_e4,
        |       CASE WHEN covered_us IS NOT NULL AND covered_us > 0
        |            THEN CAST(floor(CAST(delta_interp_e4 AS DOUBLE)
        |                   / CAST(covered_us AS DOUBLE) * 100.0
        |                   * 1000000.0 + 0.5) AS BIGINT) END AS rate_per_s_e6
        |FROM inb FULL JOIN itp
        |  ON inb.user_id = itp.user_id AND inb.b = itp.b
        |ORDER BY user_id, bucket_s""".stripMargin,
    // identical exact integer power sums (Σy³/Σy⁴ via HUGEINT, stringified),
    // identical single double tree for the derived moments — divisions by n
    // first, left-associative products, same operand order as the Spark tree
    "x_stats_1d" ->
      """WITH p AS (
        |  SELECT user_id, CAST(floor(value * 10000 + 0.5) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT user_id, count(*) AS n,
        |         CAST(sum(y) AS BIGINT) AS sum_y,
        |         sum(CAST(y AS HUGEINT) * y) AS sum_y2,
        |         sum(CAST(y AS HUGEINT) * y * y) AS s3,
        |         sum(CAST(y AS HUGEINT) * y * y * y) AS s4
        |  FROM p GROUP BY user_id
        |), dv AS (
        |  SELECT *,
        |         CAST(n AS DOUBLE) AS nd,
        |         CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |         CAST(sum_y2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        |         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        |         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        |  FROM g
        |), m AS (
        |  SELECT *,
        |         r2 - mean * mean AS m2,
        |         r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
        |         r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
        |            - 3.0 * mean * mean * mean * mean AS m4
        |  FROM dv
        |)
        |SELECT user_id, n, sum_y,
        |       CAST(sum_y2 AS VARCHAR) AS sum_y2_str,
        |       CAST(s3 AS VARCHAR) AS sum_y3_str,
        |       CAST(s4 AS VARCHAR) AS sum_y4_str,
        |       CAST(floor(mean / 10000.0 * 1000000.0 + 0.5) AS BIGINT) AS average_e6,
        |       CASE WHEN n >= 1 AND m2 >= 0
        |            THEN CAST(floor(sqrt(m2) / 10000.0 * 1000000.0 + 0.5) AS BIGINT)
        |            END AS stddev_pop_e6,
        |       CASE WHEN n >= 2
        |             AND (CAST(sum_y2 AS DOUBLE) - CAST(sum_y AS DOUBLE) * mean) >= 0
        |            THEN CAST(floor(sqrt((CAST(sum_y2 AS DOUBLE) - CAST(sum_y AS DOUBLE) * mean)
        |                   / (nd - 1.0)) / 10000.0 * 1000000.0 + 0.5) AS BIGINT)
        |            END AS stddev_samp_e6,
        |       CASE WHEN m2 > 0
        |            THEN CAST(floor(m3 / sqrt(m2 * m2 * m2) * 1000000.0 + 0.5) AS BIGINT)
        |            END AS skewness_e6,
        |       CASE WHEN m2 > 0
        |            THEN CAST(floor(m4 / (m2 * m2) * 1000000.0 + 0.5) AS BIGINT)
        |            END AS kurtosis_e6
        |FROM m ORDER BY user_id""".stripMargin,
    // exact ≤-probe counts recomputed independently (the hash anchor);
    // the sketch-rank closeness and quantile→rank coverage booleans are
    // oracle-fixed TRUE (the x_rollup_distinct idiom)
    "x_percentile_rank" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN value <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS le_10,
        |       TRUE AS rank_10_close,
        |       CAST(sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS le_50,
        |       TRUE AS rank_50_close,
        |       CAST(sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS le_100,
        |       TRUE AS rank_100_close,
        |       CAST(sum(CASE WHEN value <= 250 THEN 1 ELSE 0 END) AS BIGINT) AS le_250,
        |       TRUE AS rank_250_close,
        |       TRUE AS roundtrip_covers
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_sketch_rollup_stream" ->
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       count(*) AS n,
        |       TRUE AS n_exact,
        |       round(quantile_cont(value, 0.5), 4) AS p50_exact,
        |       round(quantile_cont(value, 0.95), 4) AS p95_exact,
        |       TRUE AS m50_rank_ok, TRUE AS m95_rank_ok
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    "x_tdigest_rank" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN value <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS le_10,
        |       TRUE AS rank_10_close, TRUE AS mrank_10_close,
        |       CAST(sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS le_50,
        |       TRUE AS rank_50_close, TRUE AS mrank_50_close,
        |       CAST(sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS le_100,
        |       TRUE AS rank_100_close, TRUE AS mrank_100_close,
        |       CAST(sum(CASE WHEN value <= 250 THEN 1 ELSE 0 END) AS BIGINT) AS le_250,
        |       TRUE AS rank_250_close, TRUE AS mrank_250_close,
        |       TRUE AS roundtrip_inverse
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // identical hourly power sums, identical RANGE trailing frame
    // (86399 PRECEDING covers exactly 24 hourly buckets), identical
    // double tree — the sliding mergeable-summaries pin
    "x_stats_rolling" ->
      """WITH p AS (
        |  SELECT user_id,
        |         (epoch_us(ts) // 3600000000) * 3600 AS hour_s,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT user_id, hour_s, count(*) AS n,
        |         CAST(sum(y) AS BIGINT) AS sum_y,
        |         sum(CAST(y AS HUGEINT) * y) AS s2,
        |         sum(CAST(y AS HUGEINT) * y * y) AS s3,
        |         sum(CAST(y AS HUGEINT) * y * y * y) AS s4
        |  FROM p GROUP BY user_id, hour_s
        |), r AS (
        |  SELECT user_id, hour_s,
        |         CAST(sum(n) OVER win AS BIGINT) AS n,
        |         CAST(sum(sum_y) OVER win AS BIGINT) AS sum_y,
        |         sum(s2) OVER win AS sum_y2,
        |         sum(s3) OVER win AS s3r,
        |         sum(s4) OVER win AS s4r
        |  FROM g
        |  WINDOW win AS (PARTITION BY user_id ORDER BY hour_s
        |                 RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
        |), dv AS (
        |  SELECT *,
        |         CAST(n AS DOUBLE) AS nd,
        |         CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |         CAST(sum_y2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        |         CAST(s3r AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        |         CAST(s4r AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        |  FROM r
        |), m AS (
        |  SELECT *,
        |         r2 - mean * mean AS m2,
        |         r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
        |         r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
        |            - 3.0 * mean * mean * mean * mean AS m4
        |  FROM dv
        |)
        |SELECT user_id, hour_s, n, sum_y,
        |       CAST(sum_y2 AS VARCHAR) AS sum_y2_str,
        |       CAST(s3r AS VARCHAR) AS sum_y3_str,
        |       CAST(s4r AS VARCHAR) AS sum_y4_str,
        |       CAST(floor(mean / 10000.0 * 1000000.0 + 0.5) AS BIGINT) AS average_e6,
        |       CASE WHEN n >= 1 AND m2 >= 0
        |            THEN CAST(floor(sqrt(m2) / 10000.0 * 1000000.0 + 0.5) AS BIGINT)
        |            END AS stddev_pop_e6,
        |       CASE WHEN n >= 2
        |             AND (CAST(sum_y2 AS DOUBLE) - CAST(sum_y AS DOUBLE) * mean) >= 0
        |            THEN CAST(floor(sqrt((CAST(sum_y2 AS DOUBLE) - CAST(sum_y AS DOUBLE) * mean)
        |                   / (nd - 1.0)) / 10000.0 * 1000000.0 + 0.5) AS BIGINT)
        |            END AS stddev_samp_e6,
        |       CASE WHEN m2 > 0
        |            THEN CAST(floor(m3 / sqrt(m2 * m2 * m2) * 1000000.0 + 0.5) AS BIGINT)
        |            END AS skewness_e6,
        |       CASE WHEN m2 > 0
        |            THEN CAST(floor(m4 / (m2 * m2) * 1000000.0 + 0.5) AS BIGINT)
        |            END AS kurtosis_e6
        |FROM m ORDER BY user_id, hour_s""".stripMargin,
    // trailing-6h regression re-derived from raw rows: identical hourly
    // HUGEINT power sums, identical RANGE re-aggregation, cross-terms
    // exact in HUGEINT, the same pinned double operand order
    "x_stats_regr_rolling" ->
      """WITH p AS (
        |  SELECT user_id,
        |         (epoch_us(ts) // 3600000000) * 3600 AS hour_s,
        |         epoch_us(ts) // 1000000 AS x,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT user_id, hour_s, count(*) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sum_y,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM p GROUP BY user_id, hour_s
        |), r AS (
        |  SELECT user_id, hour_s,
        |         CAST(sum(n) OVER win AS BIGINT) AS n,
        |         sum(sx) OVER win AS sum_x,
        |         CAST(sum(sum_y) OVER win AS BIGINT) AS sum_y,
        |         sum(sxx) OVER win AS sum_xx,
        |         sum(sxy) OVER win AS sum_xy,
        |         sum(syy) OVER win AS sum_yy
        |  FROM g
        |  WINDOW win AS (PARTITION BY user_id ORDER BY hour_s
        |                 RANGE BETWEEN 21599 PRECEDING AND CURRENT ROW)
        |), c AS (
        |  SELECT *,
        |         CAST(n AS HUGEINT) * sum_xx - sum_x * sum_x AS cxx,
        |         CAST(n AS HUGEINT) * sum_xy - sum_x * sum_y AS cxy,
        |         CAST(n AS HUGEINT) * sum_yy - CAST(sum_y AS HUGEINT) * sum_y AS cyy
        |  FROM r
        |), m AS (
        |  SELECT *,
        |         CASE WHEN cxx > 0
        |              THEN CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE) / 10000.0
        |              END AS slope,
        |         CASE WHEN cxx > 0
        |              THEN (CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE)
        |                    - CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE)
        |                      * (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE))) / 10000.0
        |              END AS intercept,
        |         CASE WHEN cxx > 0 AND cyy > 0
        |              THEN CAST(cxy AS DOUBLE) / sqrt(CAST(cxx AS DOUBLE))
        |                   / sqrt(CAST(cyy AS DOUBLE))
        |              END AS corr
        |  FROM c
        |)
        |SELECT user_id, hour_s, n, sum_y,
        |       CAST(sum_x AS VARCHAR) AS sum_x_str,
        |       CAST(sum_xx AS VARCHAR) AS sum_xx_str,
        |       CAST(sum_xy AS VARCHAR) AS sum_xy_str,
        |       CAST(sum_yy AS VARCHAR) AS sum_yy_str,
        |       CAST(floor(slope * 1000000.0 + 0.5) AS BIGINT) AS slope_e6,
        |       CAST(floor(intercept * 1000000.0 + 0.5) AS BIGINT) AS intercept_e6,
        |       CAST(floor(corr * 1000000.0 + 0.5) AS BIGINT) AS corr_e6
        |FROM m ORDER BY user_id, hour_s""".stripMargin,
    // daily-from-RAW — the rollup gate's whole point: the engine computes
    // daily from the hourly sums, the oracle from the raw rows, and exact
    // integer decomposition makes them hash-equal
    "x_stats_rollup" ->
      """WITH p AS (
        |  SELECT user_id,
        |         ((epoch_us(ts) // 3600000000 * 3600) // 86400) * 86400 AS day_s,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT user_id, day_s, count(*) AS n,
        |         CAST(sum(y) AS BIGINT) AS sum_y,
        |         sum(CAST(y AS HUGEINT) * y) AS sum_y2,
        |         sum(CAST(y AS HUGEINT) * y * y) AS s3,
        |         sum(CAST(y AS HUGEINT) * y * y * y) AS s4
        |  FROM p GROUP BY user_id, day_s
        |), dv AS (
        |  SELECT *,
        |         CAST(n AS DOUBLE) AS nd,
        |         CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |         CAST(sum_y2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        |         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        |         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        |  FROM g
        |), m AS (
        |  SELECT *,
        |         r2 - mean * mean AS m2,
        |         r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
        |         r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
        |            - 3.0 * mean * mean * mean * mean AS m4
        |  FROM dv
        |)
        |SELECT user_id, day_s, n, sum_y,
        |       CAST(sum_y2 AS VARCHAR) AS sum_y2_str,
        |       CAST(s3 AS VARCHAR) AS sum_y3_str,
        |       CAST(s4 AS VARCHAR) AS sum_y4_str,
        |       CAST(floor(mean / 10000.0 * 1000000.0 + 0.5) AS BIGINT) AS average_e6,
        |       CASE WHEN n >= 1 AND m2 >= 0
        |            THEN CAST(floor(sqrt(m2) / 10000.0 * 1000000.0 + 0.5) AS BIGINT)
        |            END AS stddev_pop_e6,
        |       CASE WHEN n >= 2
        |             AND (CAST(sum_y2 AS DOUBLE) - CAST(sum_y AS DOUBLE) * mean) >= 0
        |            THEN CAST(floor(sqrt((CAST(sum_y2 AS DOUBLE) - CAST(sum_y AS DOUBLE) * mean)
        |                   / (nd - 1.0)) / 10000.0 * 1000000.0 + 0.5) AS BIGINT)
        |            END AS stddev_samp_e6,
        |       CASE WHEN m2 > 0
        |            THEN CAST(floor(m3 / sqrt(m2 * m2 * m2) * 1000000.0 + 0.5) AS BIGINT)
        |            END AS skewness_e6,
        |       CASE WHEN m2 > 0
        |            THEN CAST(floor(m4 / (m2 * m2) * 1000000.0 + 0.5) AS BIGINT)
        |            END AS kurtosis_e6
        |FROM m ORDER BY user_id, day_s""".stripMargin,
    // identical LOCF holding-time window (µs truncate to ms per segment),
    // identical run-entry detection via lag
    "x_state_agg" ->
      """WITH d AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us,
        |         (lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |           - epoch_us(ts)) // 1000 AS dur_ms,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_state
        |  FROM events WHERE event_type IS NOT NULL
        |)
        |SELECT user_id, event_type AS state, count(*) AS n_obs,
        |       CAST(sum(CASE WHEN prev_state IS NULL OR prev_state <> event_type
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_entries,
        |       CAST(coalesce(sum(dur_ms), 0) AS BIGINT) AS dur_ms
        |FROM d GROUP BY user_id, event_type
        |ORDER BY user_id, state""".stripMargin,
    // same arg_min/arg_max OHLC picks over the unique µs key, same
    // exact-long e4 volume sum
    "x_candlestick" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
        |         epoch_us(ts) AS us, value
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_type, bucket_ts, count(*) AS n_trades,
        |       arg_min(value, us) AS open, max(value) AS high,
        |       min(value) AS low, arg_max(value, us) AS close,
        |       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS volume_e4
        |FROM e GROUP BY 1, 2
        |ORDER BY event_type, bucket_ts""".stripMargin,
    // formerly rows-only: the oracle owns the exact per-type percentiles
    // and count (quantile_cont ≡ Spark percentile, the x_quantiles
    // bit-parity) and fixes the rank-bracket claims TRUE
    "x_quantiles_sketch" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50_exact,
        |       round(quantile_cont(value, 0.95), 4) AS p95_exact,
        |       count(*) AS n,
        |       TRUE AS p50_in_bracket, TRUE AS p95_in_bracket
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // formerly rows-only: exact top-20 counts oracle-owned, CMS bounds
    // (never undercounts, ≤ ε·N overcount) fixed TRUE
    "x_vocab_cms" ->
      """SELECT tok, n_exact, TRUE AS never_undercounts, TRUE AS within_eps_n
        |FROM (
        |  SELECT tok, count(*) AS n_exact
        |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents)
        |  WHERE tok <> ''
        |  GROUP BY tok
        |  ORDER BY n_exact DESC, tok ASC
        |  LIMIT 20
        |)
        |ORDER BY n_exact DESC, tok ASC""".stripMargin,
    // the oracle aggregates RAW events; the engine reached the identical
    // table through the hourly rollup via the optimizer rewrite
    "x_rollup_rewrite" ->
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       count(*) AS n,
        |       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e4,
        |       min(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS min_e4,
        |       max(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS max_e4,
        |       CAST(floor(
        |         CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / CAST(count(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
        |         * 1000000.0 + 0.5) AS BIGINT) AS avg_e4e6
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    "x_rollup_realtime" ->
      // identical raw-data oracle: the A/B slices reunite to ALL events
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       count(*) AS n,
        |       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e4,
        |       min(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS min_e4,
        |       max(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS max_e4,
        |       CAST(floor(
        |         CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / CAST(count(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
        |         * 1000000.0 + 0.5) AS BIGINT) AS avg_e4e6
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    "x_rollup_where" ->
      // identical filtered aggregate over raw events — the engine
      // answered it from the rollup with bucket_ts-mapped bounds
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       count(*) AS n,
        |       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e4,
        |       min(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS min_e4,
        |       max(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS max_e4,
        |       arg_min(CAST(floor(value * 10000 + 0.5) AS BIGINT), ts) AS open_e4
        |FROM events
        |WHERE event_type IN ('click', 'view', 'purchase')
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-25 00:00:00'
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    "x_rollup_serve_stream" ->
      // raw-data oracle over ALL events: the engine answered the same
      // daily aggregate from a STREAM-maintained hourly rollup (slice A)
      // union the real-time tail (slice B, appended after the drain)
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       count(*) AS n,
        |       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e4,
        |       min(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS min_e4,
        |       max(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS max_e4,
        |       arg_min(CAST(floor(value * 10000 + 0.5) AS BIGINT), ts) AS open_e4,
        |       arg_max(CAST(floor(value * 10000 + 0.5) AS BIGINT), ts) AS close_e4
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    "x_rollup_ohlc" ->
      // raw-data oracle: DuckDB arg_min/arg_max — the engine reached the
      // same numbers through the rollup's (argmin-ts, value) partials
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       arg_min(CAST(floor(value * 10000 + 0.5) AS BIGINT), ts) AS open_e4,
        |       arg_max(CAST(floor(value * 10000 + 0.5) AS BIGINT), ts) AS close_e4,
        |       epoch_us(min(ts)) AS first_us,
        |       epoch_us(max(ts)) AS last_us,
        |       count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    "x_rollup_realtime_part" ->
      // identical raw-data oracle again: the hive-partitioned A/B slices
      // reunite to ALL events
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       count(*) AS n,
        |       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e4,
        |       min(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS min_e4,
        |       max(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS max_e4,
        |       CAST(floor(
        |         CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / CAST(count(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
        |         * 1000000.0 + 0.5) AS BIGINT) AS avg_e4e6
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    // same clamp-then-split: covered end = least(next, beat + 600 s);
    // final beat covers its full window
    "x_heartbeat_bucketed" ->
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt
        |  FROM events
        |), seg AS (
        |  SELECT user_id, us,
        |         LEAST(COALESCE(nxt, 9223372036854775807), us + 600000000) AS fin
        |  FROM obs
        |), expl AS (
        |  SELECT user_id, us, fin, b
        |  FROM seg, unnest(generate_series(us // 3600000000, (fin - 1) // 3600000000)) AS t(b)
        |)
        |SELECT user_id, b * 3600 AS bucket_s,
        |       CAST(SUM(LEAST(fin, (b + 1) * 3600000000) - GREATEST(us, b * 3600000000)) AS BIGINT) // 1000 AS up_ms
        |FROM expl GROUP BY 1, 2
        |ORDER BY user_id, bucket_s""".stripMargin,
    // the x_time_weight_bucketed split with state as the carried payload
    "x_state_timeline" ->
      """WITH obs AS (
        |  SELECT user_id, event_type AS state, epoch_us(ts) AS us,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt
        |  FROM events WHERE event_type IS NOT NULL
        |), seg AS (
        |  SELECT * FROM obs WHERE nxt IS NOT NULL
        |), expl AS (
        |  SELECT user_id, state, us, nxt, b
        |  FROM seg, unnest(generate_series(us // 3600000000, (nxt - 1) // 3600000000)) AS t(b)
        |)
        |SELECT user_id, state, b * 3600 AS bucket_s,
        |       CAST(SUM(LEAST(nxt, (b + 1) * 3600000000) - GREATEST(us, b * 3600000000)) AS BIGINT) // 1000 AS dur_ms
        |FROM expl GROUP BY 1, 2, 3
        |ORDER BY user_id, state, bucket_s""".stripMargin,
    // the same hourly derivation re-aggregated one level up — truncate
    // per hour, then sum (the stored-rollup consumer's semantics)
    "x_state_rollup" ->
      """WITH obs AS (
        |  SELECT user_id, event_type AS state, epoch_us(ts) AS us,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt
        |  FROM events WHERE event_type IS NOT NULL
        |), seg AS (
        |  SELECT * FROM obs WHERE nxt IS NOT NULL
        |), expl AS (
        |  SELECT user_id, state, us, nxt, b
        |  FROM seg, unnest(generate_series(us // 3600000000, (nxt - 1) // 3600000000)) AS t(b)
        |), hourly AS (
        |  SELECT user_id, state, b,
        |         CAST(SUM(LEAST(nxt, (b + 1) * 3600000000)
        |               - GREATEST(us, b * 3600000000)) AS BIGINT) // 1000 AS dur_ms
        |  FROM expl GROUP BY 1, 2, 3
        |)
        |SELECT user_id, state, (b * 3600 // 86400) * 86400 AS day_s,
        |       CAST(sum(dur_ms) AS BIGINT) AS dur_ms,
        |       count(*) AS n_active_hours
        |FROM hourly GROUP BY 1, 2, 3
        |ORDER BY user_id, state, day_s""".stripMargin,
    // identical LONG-clamp-narrow formula; ((x % m) + m) % m is DuckDB's
    // pmod, and i32×i32 products stay within BIGINT
    "x_saturating" ->
      """WITH t AS (
        |  SELECT event_id,
        |         CAST(((event_id * 48271) % 4294967296 + 4294967296) % 4294967296 - 2147483648 AS INTEGER) AS a,
        |         CAST(((event_id * 69621 + 12345) % 4294967296 + 4294967296) % 4294967296 - 2147483648 AS INTEGER) AS b
        |  FROM events
        |)
        |SELECT event_id, a, b,
        |       CAST(GREATEST(LEAST(CAST(a AS BIGINT) + b, 2147483647), -2147483648) AS INTEGER) AS s_add,
        |       CAST(GREATEST(LEAST(CAST(a AS BIGINT) - b, 2147483647), -2147483648) AS INTEGER) AS s_sub,
        |       CAST(GREATEST(LEAST(CAST(a AS BIGINT) * b, 2147483647), -2147483648) AS INTEGER) AS s_mul,
        |       CAST(GREATEST(GREATEST(LEAST(CAST(a AS BIGINT) + b, 2147483647), -2147483648), 0) AS INTEGER) AS s_add_pos,
        |       CAST(GREATEST(GREATEST(LEAST(CAST(a AS BIGINT) - b, 2147483647), -2147483648), 0) AS INTEGER) AS s_sub_pos
        |FROM t ORDER BY event_id""".stripMargin,
    // oracle owns the exact daily percentiles (bit-parity with Spark's
    // percentile, the x_quantiles contract) and fixes the three claims TRUE
    "x_percentile_rollup" ->
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       round(quantile_cont(value, 0.5), 4) AS p50_exact,
        |       round(quantile_cont(value, 0.95), 4) AS p95_exact,
        |       TRUE AS merge_associative, TRUE AS p50_close, TRUE AS p95_close
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    // exact anchors recomputed; the four rank-error booleans are the
    // sketch's contract and must all hold (oracle-fixed TRUE)
    "x_percentile_tdigest" ->
      """SELECT event_type,
        |       CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
        |       count(*) AS n,
        |       round(quantile_cont(value, 0.5), 4) AS p50_exact,
        |       round(quantile_cont(value, 0.95), 4) AS p95_exact,
        |       TRUE AS m50_rank_ok, TRUE AS m95_rank_ok,
        |       TRUE AS d50_rank_ok, TRUE AS d95_rank_ok
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY event_type, day_s""".stripMargin,
    // identical LOCF segment split: lead window → inclusive bucket-range
    // explode → overlap clamp; BIGINT/BIGINT '/' is double in both engines
    "x_time_weight_bucketed" ->
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt
        |  FROM events WHERE value IS NOT NULL
        |), seg AS (
        |  SELECT * FROM obs WHERE nxt IS NOT NULL
        |), expl AS (
        |  SELECT user_id, us, nxt, v4, b
        |  FROM seg, unnest(generate_series(us // 3600000000, (nxt - 1) // 3600000000)) AS t(b)
        |), per AS (
        |  SELECT user_id, b,
        |         CAST(SUM(LEAST(nxt, (b + 1) * 3600000000) - GREATEST(us, b * 3600000000)) AS BIGINT) AS covered_us,
        |         CAST(SUM((LEAST(nxt, (b + 1) * 3600000000) - GREATEST(us, b * 3600000000)) * v4) AS BIGINT) AS wsum_e4us
        |  FROM expl GROUP BY 1, 2
        |)
        |SELECT user_id, b * 3600 AS bucket_s, covered_us, wsum_e4us,
        |       round(wsum_e4us / covered_us / 10000.0, 6) AS twa
        |FROM per
        |ORDER BY user_id, bucket_s""".stripMargin,
    // the oracle aggregates RAW events straight to days — the engine must
    // reach the identical table through the hourly candles only
    "x_candlestick_rollup" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
        |         epoch_us(ts) AS us, value
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_type, bucket_s, count(*) AS n_trades,
        |       arg_min(value, us) AS open, max(value) AS high,
        |       min(value) AS low, arg_max(value, us) AS close,
        |       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS volume_e4
        |FROM e GROUP BY 1, 2
        |ORDER BY event_type, bucket_s""".stripMargin,
    // same per-gap µs clamps, exact µs sums, one final // 1000 per column;
    // the CASE guard mirrors the engine's — least/greatest skip NULLs in
    // both engines, so the terminal null gap must be excluded explicitly
    "x_heartbeat_agg" ->
      """WITH d AS (
        |  SELECT user_id,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |           - epoch_us(ts) AS gap_us
        |  FROM events
        |)
        |SELECT user_id, count(*) AS n_beats,
        |       count(CASE WHEN gap_us > 600000000 THEN 1 END) AS n_gaps,
        |       CAST((coalesce(sum(CASE WHEN gap_us IS NOT NULL THEN least(gap_us, 600000000) END), 0) + 600000000) // 1000 AS BIGINT) AS up_ms,
        |       CAST(coalesce(sum(CASE WHEN gap_us IS NOT NULL THEN greatest(gap_us - 600000000, 0) END), 0) // 1000 AS BIGINT) AS down_ms,
        |       CAST((coalesce(sum(CASE WHEN gap_us IS NOT NULL THEN least(gap_us, 600000000) END), 0) + 600000000) // 1000
        |         + coalesce(sum(CASE WHEN gap_us IS NOT NULL THEN greatest(gap_us - 600000000, 0) END), 0) // 1000 AS BIGINT) AS span_ms
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the oracle aggregates RAW events straight to daily (n_child =
    // distinct hours); the engine must reach the identical table via the
    // hourly level only — the decomposability claim under test
    "x_rollup_hierarchy" ->
      """SELECT event_type, CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
        |       count(DISTINCT date_trunc('hour', ts)) AS n_child,
        |       count(*) AS n,
        |       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_e4,
        |       min(value) AS min_v, max(value) AS max_v
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY event_type, bucket_s""".stripMargin
  ) ++ Map(
    // the streamed two-run perceptual admission must equal the one-shot
    // stored-banded admission over the same (index, batch) pair — with
    // monotone ids the per-trigger probe sees exactly the banded union
    // of prior batches — so the gate shares x_dedup_image_incr's
    // closed-form LCG derivation VERBATIM (same corpus, same batch,
    // same three-fate statuses)
    "x_dedup_image_stream" -> imageIncrOracle) match {
    // the compaction-armed block-max gate shares the one-shot gate's
    // oracle VERBATIM: the DuckDB re-derivation is blind to batching,
    // impact blocks and the certificate, and both gates plant the same
    // corpus and queries — only the index LIFECYCLE differs
    case m => m + ("x_bm25_compact_blockmax" -> m("x_bm25_blockmax"))
  }
}
