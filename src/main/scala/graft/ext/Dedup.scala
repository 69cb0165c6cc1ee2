package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.GraftFunctions
import graft.streaming.Marker

/** Deduplication operators for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale posture (100 TB): every variant is a shuffle-on-key or
  * candidate-join plan — no driver-side state, no global sorts, no
  * quadratic all-pairs stage except behind an explicit candidate filter
  * (shared-band / shared-shingle / LSH bucket), which is the published
  * technique for bounding pair generation (MinHash banding; prefix-filter
  * family — see PAPERS.md set-similarity-join entries).
  *
  * RELIABILITY NOTE — the eager-localCheckpoint release convention: the
  * one-shot entry points (minhash/simhash pair joins, the admit family,
  * semanticDedup) materialize their small RESULT via
  * `localCheckpoint(eager = true)` so the corpus-sized sketch caches
  * they scan multiple times can be unpersisted before returning —
  * no CacheManager entry outlives a call. localCheckpoint blocks are
  * executor-local and NON-replicated: on a multi-executor cluster with
  * dynamic allocation or preemption, losing an executor after the
  * checkpoint makes the result unrecoverable and fails the query
  * (lineage is truncated — there is nothing to recompute), where a
  * plain cache() would have recomputed. That is the deliberate trade
  * for the driver's single-JVM deployment; a cluster deployment that
  * cannot simply re-run a failed one-shot call should either swap in
  * reliable checkpointing (`SparkContext.setCheckpointDir` +
  * `Dataset.checkpoint`, one durable write) or persist the returned
  * frame to its own table — both slot in at the single checkpoint
  * site per entry point.
  */
object Dedup {

  /** Widen a CPU-heavy one-shot scan to the session's parallelism when
    * the source's own split count is coarser. Spark sizes file splits by
    * BYTES (`files.maxPartitionBytes` / bytes-per-core), and a text or
    * embedding table with a hostile compression ratio (replicated crawl
    * corpora compress 10-20×) plans arbitrarily few partitions for an
    * arbitrarily large CPU workload — the r17 profile caught a 150k-doc
    * corpus scanning on FOUR partitions of a 32-core session, starving
    * every downstream sketch/hash/shingle pass pinned to scan
    * parallelism (map stages inherit it; AQE only re-splits after a
    * shuffle). One round-robin pass over the raw (id, payload) rows is
    * far cheaper than running the sketch stage 8× under-parallel.
    * Applied at the ONE-SHOT corpus entry points only — micro-batch /
    * per-trigger forms keep their exchange-free plans (a 5 s cadence
    * must not pay a shuffle per trigger for this).
    */
  private def widenScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // queryExecution.toRdd plans the query but skips df.rdd's extra
    // row-deserializer RDD layer. The threshold stays EXACT (< target):
    // an r18 experiment with 2× tolerance slowed the CPU-bound sketch
    // scans ~10% at 10× replicas — these stages are hash-bound, so
    // missing cores is missing throughput, and the round-robin shuffle
    // of (id, payload) is cheap next to running the scan under-parallel
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Batch-row bound under which the stored-index admission probes PIN
    * the batch-side broadcast (the per-trigger shape: the store must
    * never shuffle per admission). Every 5 s-cadence micro-batch sits
    * orders of magnitude below this; a corpus-sized batch — seeding a
    * store by ingesting a whole snapshot as batch 0 — sits far above it
    * and would blow Spark's 8 GiB broadcast wall, so the probes fall
    * back to the plain shuffle join there (one-time seeding cost).
    */
  private[graft] val ProbeBroadcastMaxBatchRows: Long = 50000L

  /** Store-size estimate (bytes, from file statistics — no job) under
    * which the admission probes keep the PLAIN join shape and let the
    * planner broadcast the STORE side: at small stores that plan is
    * fully fused into the enclosing stage (zero extra broadcast
    * stages), while pinning a batch-side broadcast there pays 1-2
    * serialized query stages for data the planner would have shipped
    * for free. Past this bound the store must never be broadcast or
    * shuffled, so the batch side is pinned instead.
    */
  private[graft] val ProbeSmallStoreBytes: Long = 64L << 20

  private[graft] def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  // ---- exact ---------------------------------------------------------------

  /** Exact dedup on key columns (hash-shuffle on the keys; map-side partial
    * aggregation keeps the shuffle small when dup rate is high).
    */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Exact dedup keeping the row with the smallest `orderCol` per key group
    * ("keep first") — deterministic, unlike `dropDuplicates`' arbitrary
    * survivor.
    */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).asc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Content-hash dedup: exact dedup on a 64-bit hash of normalized text —
    * the cheap first pass before any near-dup stage (hashing shrinks the
    * shuffle payload from full documents to 8 bytes + key).
    */
  def contentHash(text: Column): Column = xxhash64(lower(trim(text)))

  // ---- shingling (shared by MinHash / SimHash / Jaccard) -------------------

  /** Word n-gram shingles of a text column as `array<string>` (distinct).
    * Built-in composition (split → sequence → transform → slice) — kept as
    * the reference semantic; plans should prefer [[shingled]], which uses
    * the one-pass native WordShingles expression (identical output, no
    * per-position interpreted lambda + array-slice copy).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val words = split(trim(text), "\\s+")
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))
      )
    )
  }

  /** (id, shingles) projection via the native one-pass shingler.
    * Scan-widened ([[widenScan]]): every caller is a one-shot corpus
    * operator whose downstream sketch passes run at this frame's
    * parallelism, and the shuffle moves raw text, not shingle arrays.
    */
  def shingled(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    widenScan(df.select(col(idCol).cast("long").as("id"), col(textCol).as("__t")))
      .select(
        col("id"),
        GraftFunctions.word_shingles(col("__t"), n).as("shingles")
      )
  }

  // ---- n-gram Jaccard ------------------------------------------------------

  /** All-pairs n-gram Jaccard similarity ≥ `threshold`.
    *
    * Plan: explode distinct shingles → drop shingles with document frequency
    * > `maxShingleDf` (a stop-shingle filter: frequent shingles generate
    * quadratic candidate pairs but carry no discriminative signal — the
    * standard frequency-filter from the set-similarity-join literature) →
    * self-join on shingle to generate candidates → count shared shingles per
    * pair → Jaccard = inter / (|a| + |b| − inter).
    *
    * Output: (id_a, id_b, inter, size_a, size_b, jaccard) with id_a < id_b.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDf: Long = 1000L
  ): DataFrame = {
    val sized = shingled(df, idCol, textCol, n)
      .select(col("id"), col("shingles"), size(col("shingles")).as("sz"))
    val exploded = sized.select(col("id"), col("sz"), explode(col("shingles")).as("sh"))
    // document-frequency filter via hash aggregation + join — NOT a window
    // over shingle: the window form sorts every (doc, shingle) row within
    // each shingle partition, and at corpus scale a hot shingle becomes one
    // giant sorted partition; groupBy is map-side-combined and skew-free,
    // and the post-filter df table (rare shingles only) joins back on the
    // same shuffle key
    // df band [2, maxShingleDf]: the upper bound is the stop-shingle
    // filter; the LOWER bound is output-neutral work elimination — a
    // df=1 shingle's only join partner is itself (killed by id_a <
    // id_b) and a SHARED shingle has df >= 2 by definition, so `inter`
    // is unchanged while the unique-shingle bulk (most of a natural
    // corpus) never enters the candidate join at all
    val rareShingles = exploded
      .groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxShingleDf)
      .select("sh")
    // ONE explicit shingle-keyed exchange feeding BOTH self-join sides:
    // without it each side recomputes the whole explode + df-aggregate +
    // semi-join subtree (measured: two full Generate trees in the
    // executed plan); with it the sides differ only in their aliasing
    // Projects ABOVE the exchange, the two exchanges canonicalize
    // identically, and ReuseExchange / AQE stage reuse computes the
    // posting pass once. The join's (sh) requirement is satisfied by
    // the same partitioning, so no further exchange is inserted.
    val rare = exploded.join(rareShingles, Seq("sh")).repartition(col("sh"))
    val a = rare.select(col("id").as("id_a"), col("sz").as("size_a"), col("sh"))
    val b = rare.select(col("id").as("id_b"), col("sz").as("size_b"), col("sh"))
    a.join(b, Seq("sh"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn(
        "jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter"))
      )
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
  }

  // ---- winnowing fingerprint pairs (MOSS) ----------------------------------

  /** (id, fp) winnowing postings — the staged evaluation of
    * [[graft.ext.TextOps.winnowingFingerprints]]. The single-Column
    * convenience forms capture the shingle-hash array INSIDE the
    * window-min lambda, and Catalyst re-evaluates a captured expression
    * on every lambda invocation — O(tokens² · hash) per document. Here
    * each stage's input is materialized as a projection attribute first
    * (words → shingle hashes → window mins), so slicing inside the
    * lambdas touches an already-computed array: O(tokens · w) hashing
    * per document, once. CollapseProject keeps the stages separate
    * because each array attribute is referenced more than once and is
    * not cheap to duplicate.
    */
  private[graft] def winnowingPostings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      windowSize: Int,
      portable: Boolean
  ): DataFrame = {
    if (!portable) {
      // production xxhash64 path: ONE native scalar pass per document
      // (byte-level word scan, reused gram buffer, inline window mins —
      // graft.functions.WinnowedFingerprints, value-identical to the
      // staged Column form below and spec-pinned so). The staged form's
      // per-shingle slice+concat+hash churn was the center of the
      // composed pipeline's winnow stage (~1.5-2 s per 5k-doc trigger).
      GraftFunctions.register(df.sparkSession)
      df.select(
          col(idCol).cast("long").as("id"),
          GraftFunctions.winnowed_fingerprints(col(textCol), w, windowSize).as("fps"))
        .select(col("id"), explode(col("fps")).as("fp"))
    } else {
      val hashOf: Column => Column = c => md5(c)
      df.select(
          col(idCol).cast("long").as("id"),
          split(trim(col(textCol)), "\\s+").as("ws"))
        .select(
          col("id"),
          transform(
            sequence(lit(0), greatest(size(col("ws")) - w, lit(0))),
            i => hashOf(concat_ws(" ", slice(col("ws"), i + 1, lit(w))))).as("hs"))
        .select(
          col("id"),
          explode(array_distinct(transform(
            sequence(lit(0), greatest(size(col("hs")) - windowSize, lit(0))),
            i => array_min(slice(col("hs"), i + 1, lit(windowSize)))))).as("fp"))
    }
  }

  /** Winnowing near-duplicate candidate pairs — the MOSS scheme
    * (Schleimer, Wilkerson & Aiken, SIGMOD 2003): each document keeps
    * only its winnowing-selected shingle hashes (the min of every
    * `windowSize` consecutive shingle hashes, guaranteeing any shared
    * run of ≥ w + windowSize − 1 tokens contributes a shared
    * fingerprint — evaluated via the staged [[winnowingPostings]]), and
    * documents sharing at least `minShared` selected fingerprints pair.
    * The sampled-fingerprint complement to [[ngramJaccardPairs]]:
    * winnowing retains ~1/windowSize of the shingles, so the posting
    * explode, the frequency filter and the candidate join all shrink by
    * the same factor — the cheap first pass of the near-dup funnel at
    * crawl scale.
    *
    * Plan (the set-similarity-join discipline, never all-pairs):
    * fingerprint explode → document-frequency filter dropping
    * fingerprints with df > `maxDf` (winnowed boilerplate shingles
    * generate quadratic candidates but no signal — same hash-agg +
    * semi-join shape as [[ngramJaccardPairs]]' stop-shingle filter,
    * skew-free) and df < 2 (unshared fingerprints cannot pair) →
    * posting self-join bounded by maxDf² per fingerprint → per-pair
    * shared count.
    *
    * `portable = true` swaps the fingerprint hash to md5 hex
    * (lexicographic min ≡ numeric window-min on fixed-width hex) so the
    * driver gate re-derives every selected fingerprint and pair in
    * DuckDB; xxhash64 is the production path (8-byte postings).
    *
    * Output: (id_a, id_b, shared) with id_a < id_b, shared ≥ minShared.
    */
  def winnowingNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      windowSize: Int = 4,
      minShared: Int = 3,
      maxDf: Long = 8L,
      portable: Boolean = false
  ): DataFrame = {
    require(minShared >= 1, "need minShared >= 1")
    require(maxDf >= 2, "need maxDf >= 2 — pairs need fingerprints in at least 2 docs")
    // one-shot corpus scan — widened ([[widenScan]]); the per-trigger
    // winnowAdmit forms keep their exchange-free micro-batch plans
    val posts = winnowingPostings(
      widenScan(df.select(col(idCol), col(textCol))), idCol, textCol, w, windowSize, portable)
    val shared = posts
      .groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDf)
      .select("fp")
    // one fp-keyed exchange reused by both self-join sides (the
    // ngramJaccardPairs note): uncoalesced, each side recomputed the
    // fingerprint explode + band semi-join subtree
    val p = posts.join(shared, Seq("fp"), "left_semi").repartition(col("fp"))
    p.select(col("id").as("id_a"), col("fp"))
      .join(p.select(col("id").as("id_b"), col("fp")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Fuzzy-lexical train/eval decontamination via winnowing
    * fingerprints — the paraphrase-adjacent complement of the exact
    * n-gram decontam ([[graft.ext.TextOps.contamination]] and its bloom
    * form) and the embedding-space form ([[semanticContamination]]): an
    * eval document is contaminated when it shares ≥ `minShared`
    * winnowing-selected fingerprints with SOME single training document
    * — i.e. when a train doc would pair with it under
    * [[winnowingNearDupPairs]]. The MOSS guarantee (any shared run of
    * ≥ w + windowSize − 1 tokens contributes a shared fingerprint)
    * makes this robust to the light edits, re-punctuation and splices
    * that break exact 13-gram matching, at ~1/windowSize of the n-gram
    * posting volume. The df cap applies to TRAIN fingerprints only
    * (boilerplate selected-shingles pair with everything and carry no
    * signal; an eval fingerprint then meets ≤ maxDf train postings —
    * the candidate bound) — there is no ≥2 lower band here, unlike the
    * pair join: a train-unique fingerprint is exactly the evidence
    * decontamination wants.
    *
    * Output: one row per eval doc — (id, matched_train_docs,
    * max_shared, contaminated), deterministic.
    */
  def winnowContamination(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      windowSize: Int = 4,
      minShared: Int = 3,
      maxDf: Long = 8L,
      portable: Boolean = false
  ): DataFrame = {
    require(minShared >= 1, "need minShared >= 1")
    require(maxDf >= 1, "need maxDf >= 1")
    // one-shot sweep — both sides scan-widened (train is corpus-sized)
    val tp = winnowingPostings(
      widenScan(train.select(col(idCol), col(textCol))), idCol, textCol, w, windowSize, portable)
    val ep = winnowingPostings(
      widenScan(eval.select(col(idCol), col(textCol))), idCol, textCol, w, windowSize, portable)
    val tKeep = tp.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("fp")
    val hits = ep.select(col("id").as("eval_id"), col("fp"))
      .join(
        tp.join(tKeep, Seq("fp"), "left_semi").select(col("id").as("train_id"), col("fp")),
        Seq("fp"))
      .groupBy("eval_id", "train_id").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
    val per = hits.groupBy("eval_id").agg(
      count(lit(1)).as("matched_train_docs"),
      max(col("shared")).as("max_shared"))
    eval.select(col(idCol).cast("long").as("id"))
      .join(per.withColumnRenamed("eval_id", "id"), Seq("id"), "left_outer")
      .select(
        col("id"),
        coalesce(col("matched_train_docs"), lit(0L)).as("matched_train_docs"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        (coalesce(col("matched_train_docs"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[winnowContamination]] against the PERSISTED train-side index —
    * the shape a real decontamination sweep runs: the training corpus
    * is fixed and large, so its df-capped winnowing postings are
    * exactly the [[writeWinnowIndex]] artifact (built once, bucketed by
    * fingerprint hash, layout-stamped), and each eval set probes it at
    * O(eval + touched buckets) instead of recomputing train postings
    * per call. Probe mechanics are [[winnowAdmitStored]]'s: the eval
    * batch's fingerprints prune the read to their own fb partitions,
    * the persisted build-hot set plus the cumulative probe-side df cap
    * exclude fingerprints hot at build or turned hot through
    * [[appendWinnowIndex]] appends — so probing an append-advanced
    * store equals rebuilding over the union corpus (the store family's
    * contract, ExtSpec-pinned). All layout parameters come from the
    * artifact's marker; only `minShared` (a pure probe threshold) is
    * caller-supplied. Output schema and semantics match the inline
    * form: (id, matched_train_docs, max_shared, contaminated), one row
    * per eval doc.
    */
  def winnowContaminationStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Int = 3
  ): DataFrame = {
    import org.apache.spark.sql.types._
    require(minShared >= 1, "need minShared >= 1")
    val (w, windowSize, maxDf, buckets, portable) = winnowIndexLayout(spark, path)
    // cached: scanned by the touched-bucket collect, the prior
    // semi-join and the hit join; released after the eager result
    // checkpoint (the winnowAdmitStored convention)
    val posts = winnowingPostings(eval, idCol, textCol, w, windowSize, portable).cache()
    try {
      val fpType: DataType = if (portable) StringType else LongType
      val storeSchema = StructType(Seq(
        StructField("id", LongType),
        StructField("fp", fpType),
        StructField("fb", IntegerType)))
      val touched = posts
        .select(pmod(xxhash64(col("fp")), lit(buckets)).cast("int").as("fb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val postsDf = spark.read.schema(storeSchema).parquet(s"$path/posts")
        .select("id", "fp", "fb")
      val apostDir = new org.apache.hadoop.fs.Path(s"$path/apost")
      val apostFs = apostDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val store =
        if (apostFs.exists(apostDir))
          postsDf.unionByName(
            spark.read.schema(storeSchema).parquet(s"$path/apost")
              .select("id", "fp", "fb"))
        else postsDf
      val idx =
        if (touched.isEmpty) store.select(col("id").as("train_id"), col("fp")).limit(0)
        else store.where(col("fb").isin(touched: _*)).select(col("id").as("train_id"), col("fp"))
      // probe-side cumulative df cap + persisted hot set — the
      // append-equivalence machinery (see winnowAdmitStoredStaged):
      // a pure build never trips the count cap (hot fps were dropped
      // physically), an appended store gets re-capped here
      val prior = idx.join(posts.select("fp").distinct(), Seq("fp"), "left_semi")
      val hotByCount = prior.groupBy("fp").agg(count(lit(1)).as("n"))
        .where(col("n") > maxDf).select("fp")
      val hotDir = new org.apache.hadoop.fs.Path(s"$path/hot")
      val hotFs = hotDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hotStored =
        if (hotFs.exists(hotDir)) {
          val hs = spark.read.schema(StructType(Seq(
            StructField("fp", fpType), StructField("fb", IntegerType)))).parquet(s"$path/hot")
          if (touched.isEmpty) hs.select("fp").limit(0)
          else hs.where(col("fb").isin(touched: _*)).select("fp")
        } else hotByCount.limit(0)
      val hot = hotByCount.unionByName(hotStored).distinct()
      val hits = posts.select(col("id").as("eval_id"), col("fp"))
        .join(prior.join(hot, Seq("fp"), "left_anti"), Seq("fp"))
        .groupBy("eval_id", "train_id").agg(count(lit(1)).as("shared"))
        .where(col("shared") >= minShared)
      val per = hits.groupBy("eval_id").agg(
        count(lit(1)).as("matched_train_docs"),
        max(col("shared")).as("max_shared"))
      val res = eval.select(col(idCol).cast("long").as("id"))
        .join(per.withColumnRenamed("eval_id", "id"), Seq("id"), "left_outer")
        .select(
          col("id"),
          coalesce(col("matched_train_docs"), lit(0L)).as("matched_train_docs"),
          coalesce(col("max_shared"), lit(0L)).as("max_shared"),
          (coalesce(col("matched_train_docs"), lit(0L)) > 0).as("contaminated"))
      res.localCheckpoint(eager = true)
    } finally { posts.unpersist(); () }
  }

  // ---- MinHash + LSH banding ----------------------------------------------

  /** MinHash signature of a shingle array: `numHashes` independent hash
    * slots, slot i = min over shingles of xxhash64(shingle, seed=i).
    * Column form (transform + array_min) — prefer [[minhashSignatures]]
    * in plans: higher-order lambdas are interpreted per element.
    *
    * INCOMPATIBLE FAMILY WARNING: this helper keeps the original
    * numHashes-independent-string-hash family, while
    * [[minhashSignatures]] uses the one-strong-hash + derived-mix
    * family of [[graft.functions.MinHashShingles]]. Signatures from
    * the two NEVER band-match each other — do not mix them within one
    * store or candidate join; pick one family per corpus artifact.
    */
  @deprecated("use minhashSignatures — different (incompatible) hash family, ~10× cheaper", "r18")
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingles, s => xxhash64(lit(i), s)))
    }: _*)

  /** MinHash signatures via the [[graft.functions.MinHashShingles]]
    * scalar expression — one MAP-ONLY pass over the shingle frame, no
    * explode, no aggregate buffers, no shuffle, and one strong string
    * hash + numHashes derived 8-byte mixes per shingle instead of the
    * aggregate layout's 64 full string hashes (see the expression's
    * scaladoc for the family and the recall argument; every consumer
    * verifies candidates with the exact shingle Jaccard, so the sketch
    * family only moves banding collisions). The r17 profile: the
    * explode + aggregate layout spent ~7 µs of row machinery per
    * posting, and after removing that the 64 string passes were the
    * remaining wall — together ~10 s → ~1 s at a 150k-doc stress
    * corpus. The `size > 0` filter keeps the aggregate form's contract
    * (an id with no shingles emitted no group, so it must emit no
    * signature row). Returns (id, sig).
    */
  def minhashSignatures(shingled: DataFrame, numHashes: Int): DataFrame = {
    GraftFunctions.register(shingled.sparkSession)
    shingled
      .where(size(col("shingles")) > 0)
      .select(col("id"), GraftFunctions.minhash_shingles(col("shingles"), numHashes).as("sig"))
  }

  /** The (id, bucket) banding rows of a signature frame — ONE banding
    * definition shared by [[minhashNearDupPairs]] and the stress
    * harness's work accounting ([[minhashCandidateStats]]), so the
    * work denominator can never drift from the timed plan. Band index
    * is folded into the bucket hash so equal band values from
    * different bands cannot collide.
    */
  private[graft] def minhashBandBuckets(
      sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    sigs.select(
      col("id"),
      explode(
        array((0 until bands).map { b =>
          xxhash64(lit(b), slice(col("sig"), lit(b * rowsPerBand + 1), lit(rowsPerBand)))
        }: _*)
      ).as("bucket"))
  }

  /** Candidate-volume accounting for [[minhashNearDupPairs]] — the
    * work denominator the stress harness normalizes wall-clock by
    * (the winnow_pairs recipe): on a planted-clone corpus the OUTPUT
    * pair band grows quadratically in the replica count, so wall/linear
    * alone conflates data-driven output growth with engine growth.
    * Returns (postings, probeRows, candOcc):
    *   - postings: total exploded shingle occurrences — the linear
    *     sketch-build term (shingling + the 64-slot signature agg);
    *   - probeRows: n · bands banding rows — the bucket fan-out volume;
    *   - candOcc: Σ C(bucket, 2) over band buckets — the banded
    *     self-join's PRE-dedup output, every row of which is generated,
    *     shuffled and aggregated whether or not the pair survives
    *     verification.
    */
  private[graft] def minhashCandidateStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int): (Long, Long, Long) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = shingled(df, idCol, textCol, shingleN).cache()
    try {
      val postings = sh
        .select(size(col("shingles")).cast("long").as("s"))
        .agg(coalesce(sum(col("s")), lit(0L))).head().getLong(0)
      val r = minhashBandBuckets(minhashSignatures(sh, numHashes), numHashes, bands)
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .agg(
          coalesce(sum(col("n")), lit(0L)).cast("long"),
          coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0L)).cast("long"))
        .head()
      (postings, r.getLong(0), r.getLong(1))
    } finally { sh.unpersist(); () }
  }

  /** LSH banding candidates: split the signature into `bands` bands of
    * `rowsPerBand` hashes, hash each band, and emit (band_idx, band_hash)
    * bucket keys. Pairs sharing ≥1 bucket are candidates — the classic
    * banding scheme (Broder MinHash / MMDS ch.3), which bounds the join to
    * colliding buckets instead of all pairs.
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      jaccardThreshold: Double = 0.5
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // shingles and signatures cached SEPARATELY and released below: the
    // downstream plan consumes each several times in one job
    // (unmaterialized, every scan recomputes its lineage), and the
    // sketch-aggregate count materializes both in ONE pipelined job (an
    // eager per-frame localCheckpoint here measured +0.7 s — two
    // sequential serialization passes where the cache fill rides the
    // signature job). The caches are unpersisted before returning — the
    // RESULT is eagerly checkpointed at the tail, so this one-shot
    // entry point pins no CacheManager entry past its own call (the
    // semanticAdmit release convention). At warehouse scale this
    // intermediate would be a persisted sketch table for the same
    // multi-scan reasons.
    val sh = shingled(df, idCol, textCol, shingleN).cache()
    val sigs = minhashSignatures(sh, numHashes).cache()
    sigs.count()

    // banding rows carry only (id, bucket) — signature and shingle arrays
    // are joined back for the (small) candidate set, never shuffled with
    // the bucket fan-out (shared builder: [[minhashBandBuckets]])
    val banded = minhashBandBuckets(sigs, numHashes, bands)

    val l = banded.select(col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("bucket"), col("id").as("id_b"))
    val cand = l
      .join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))

    // verify candidates with the exact Jaccard on the shingle sets (the
    // banding estimate from signature agreement is kept as est_jaccard)
    val res = cand
      .withColumn(
        "est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0),
          (acc, v) => acc + v
        ).cast("double") / lit(numHashes)
      )
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn(
        "jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      )
      .where(col("jaccard") >= jaccardThreshold)
      .select("id_a", "id_b", "jaccard", "est_jaccard")
    // eager-materialize the (small) verified pair list, then release the
    // sketch caches — no CacheManager entry survives the call
    try res.localCheckpoint(eager = true)
    finally { sigs.unpersist(); sh.unpersist(); () }
  }

  /** ml.feature variant: HashingTF (binary) over shingles → MinHashLSH →
    * approxSimilarityJoin at Jaccard distance ≤ 1 − threshold. Same
    * operator through the stock ml pipeline (seeded, deterministic);
    * [[minhashNearDupPairs]] is the engine's plain-DataFrame form with the
    * explicit banding layout.
    */
  def minhashNearDupPairsMl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      numHashTables: Int = 8,
      jaccardThreshold: Double = 0.5,
      seed: Long = 42L
  ): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val sh = shingled(df, idCol, textCol, shingleN)
    val tf = new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val feats = tf.transform(sh).where(size(col("shingles")) > 0)
    val lsh = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(seed)
    val model = lsh.fit(feats)
    model
      .approxSimilarityJoin(feats, feats, 1.0 - jaccardThreshold, "jaccard_dist")
      .select(
        col("datasetA.id").as("id_a"),
        col("datasetB.id").as("id_b"),
        (lit(1.0) - col("jaccard_dist")).as("jaccard")
      )
      .where(col("id_a") < col("id_b"))
  }

  // ---- SimHash -------------------------------------------------------------

  /** 64-bit SimHash of a shingle array: weight +1/−1 per bit across shingle
    * hashes, sign-aggregated per bit position (Charikar 2002). Built from
    * array ops only — the per-bit loop is a `transform` over a 64-element
    * sequence, evaluated once per row.
    */
  /** SimHash sketches via the [[graft.functions.SimHashShingles]] scalar
    * expression — one MAP-ONLY pass, bit-identical to the previous
    * explode + [[graft.functions.SimHashAgg]] layout (same element hash
    * and sign rule; both identical to the per-bit column form). Same
    * row-machinery rationale and empty-array contract as
    * [[minhashSignatures]]. Returns (id, sh).
    */
  def simhashes(shingled: DataFrame): DataFrame = {
    GraftFunctions.register(shingled.sparkSession)
    shingled
      .where(size(col("shingles")) > 0)
      .select(col("id"), GraftFunctions.simhash_shingles(col("shingles")).as("sh"))
  }

  def simhash64(shingles: Column): Column = {
    val hashes = transform(shingles, s => xxhash64(s))
    // bit b of the simhash = 1 iff sum over hashes of (bit b ? +1 : -1) > 0;
    // the 64 per-bit aggregates are unrolled at plan time (literal shifts),
    // keeping everything inside codegen
    val terms = (0 until 64).map { b =>
      val balance = aggregate(
        hashes,
        lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)
      )
      when(balance > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    terms.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, candidate
    * generation by banding the 64-bit hash into four 16-bit blocks (two
    * near-dups within Hamming ≤3 must agree on ≥1 block — pigeonhole).
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      maxHamming: Int = 3
  ): DataFrame = {
    val h = simhashes(shingled(df, idCol, textCol, shingleN))
    val blocks = h.select(
      col("id"),
      col("sh"),
      explode(
        array((0 until 4).map { b =>
          struct(lit(b).as("blk"), shiftrightunsigned(col("sh"), b * 16).bitwiseAND(0xffffL).as("key"))
        }: _*)
      ).as("bb")
    ).select(col("id"), col("sh"), col("bb.blk"), col("bb.key"))
    val l = blocks.select(col("blk"), col("key"), col("id").as("id_a"), col("sh").as("sh_a"))
    val r = blocks.select(col("blk"), col("key"), col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("blk", "key"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash candidates verified with the exact Jaccard over the shingle
    * sets: the block stage only GENERATES candidates (cheap, hash-based,
    * bounded pair fan-out); the survivors are re-scored with the exact set
    * similarity. Output (id_a, id_b, jaccard) is therefore hash-independent
    * — the same rows an exact all-pairs Jaccard produces, given candidate
    * recall — which makes the query oracle-checkable end to end.
    *
    * Candidate recall is a PIGEONHOLE GUARANTEE up to a hamming radius:
    * the 64-bit sketch splits into `blocks` equal blocks, and one side
    * probes each block's key plus every XOR-flip of up to `probeBits` of
    * its bits. If two sketches differ in at most
    * `(probeBits+1)*blocks - 1` bits total, some block differs in ≤
    * probeBits bits (otherwise ≥ (probeBits+1)*blocks bits differ), so one
    * of the probes meets the other side's base key.
    *
    * Before the exact verify, candidates pass a hamming COST filter at
    * `2*radius + 1` (defaults: 23 of 64) — a single-block collision says
    * nothing about the other blocks, so the raw candidate mass sits at
    * near-random hamming (~32) where jaccard ≥ 0.4 is impossible, and
    * filtering on the two sketch longs is O(1) versus the O(|shingles|)
    * set intersection. Chance-found pairs BETWEEN the radius and the cost
    * cap are kept: extra recall only moves the result toward the exact
    * ground truth. The cap sits at ~2× the guaranteed radius precisely so
    * the corpus pin (ExtSpec asserts true-pair hamming ≤ radius) holds
    * with margin, not at the edge.
    *
    * Default `blocks = 4, probeBits = 2` is a Manku-style table layout
    * with stronger probes: 16-bit block keys (65536 buckets per block)
    * and guaranteed recall through hamming 11. Versus 8×8-bit blocks
    * (radius 15), random-collision candidate volume drops from
    * n²·(8·9)/2⁸ to n²·(4·137)/2¹⁶ — ~33× fewer false candidates — at
    * the price of 4 radius. 8-bit keys (256 buckets) go quadratic on
    * large corpora, so they never belong on a scale path; for corpora
    * past ~10⁶ docs, tighten the target radius instead (blocks=2,
    * 32-bit keys) — the published simhash deployments (Manku et al.,
    * WWW'07) all run small radii (k≈3) at web scale for exactly this
    * reason.
    *
    * ORACLE NOTE (corpus-pinned): equality with the exact all-pairs
    * Jaccard ground truth additionally requires every jaccard ≥ threshold
    * pair in the corpus to sit within the recall radius (or be
    * chance-found). That is a property of the DATA, not the algorithm: a
    * jaccard-0.4 pair has expected simhash hamming well past any practical
    * radius. The driver corpora hold it: every true pair has jaccard
    * ≥ 0.75, and true-pair hamming stays ≤ the radius-11 guarantee on the
    * gate corpora — asserted loudly in ExtSpec so a data change fails in
    * tests, not in the gate.
    */
  def simhashNearDupPairsVerified(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      jaccardThreshold: Double,
      blocks: Int = 4,
      probeBits: Int = 2
  ): DataFrame = {
    require(64 % blocks == 0, "blocks must divide 64")
    require(probeBits >= 0 && probeBits <= 3, "probeBits in [0,3] (fan-out grows as C(width,probeBits))")
    // same cache-then-release layout as [[minhashNearDupPairs]] (see the
    // rationale there): the plan below scans `hashes` 3× and `sh` 2×
    // inside one job; the count fills both caches in one pipelined job
    // and the tail releases them after the eager result checkpoint
    val sh = shingled(df, idCol, textCol, shingleN).cache()
    val hashes = simhashes(sh).cache()
    val n = hashes.count()
    // adaptive probe budget (the LshBandingCutover pattern): probe
    // fan-out multiplies candidate volume by 1 + width + C(width,2) + …
    // (137 at probeBits=2), and past ~20k docs that term dominates — a
    // 30× stress probe measured 2.6× over linear with the full budget.
    // Dropping to 1-bit probes (×17) keeps a structural radius of
    // (1+1)·blocks − 1 = 7, which still covers true near-dups (gate and
    // stress corpora pin true-pair hamming ≈ 0-3) — the Manku-style
    // small-radius-at-scale trade the docstring above describes.
    val effProbeBits = if (n > SimhashProbeCutover) math.min(probeBits, 1) else probeBits
    val base = simhashBandedBase(hashes, blocks)
    // multiprobe side: the key XOR every mask of popcount ≤ probeBits —
    // plan-time literal masks, so the fan-out is one explode of a constant-
    // shape array (1 + width + C(width,2) + ... elements)
    val probes = simhashProbeSide(base, blocks, effProbeBits)
    val radius = (effProbeBits + 1) * blocks - 1
    // cost filter on the 8-byte sketches INLINE in the bucket-collision
    // join — BEFORE the pair dedup, not after it: the sketches ride the
    // banding rows (simhashBandedBase), so the near-random-hamming
    // candidate mass (99%+ of bucket collisions once the 16-bit keys
    // saturate, ~150k docs) dies in the join stage and the dedup
    // shuffles only plausible pairs. The r17 profile measured the
    // post-dedup ordering at 30.6 s of pair-dedup against 1.1 s of
    // screening at a 150k-doc corpus; this ordering removes the two
    // hashes join-backs entirely.
    val res = probes
      .join(base.select(col("blk"), col("key"), col("id").as("id2"), col("sh").as("sh2")),
        Seq("blk", "key"))
      .where(col("id") =!= col("id2") &&
        bit_count(col("sh").bitwiseXOR(col("sh2"))) <= 2 * radius + 1)
      .select(least(col("id"), col("id2")).as("id_a"), greatest(col("id"), col("id2")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn(
        "jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      )
      .where(col("jaccard") >= jaccardThreshold)
      .select("id_a", "id_b", "jaccard")
    // eager-materialize the verified pair list, then release the caches
    try res.localCheckpoint(eager = true)
    finally { hashes.unpersist(); sh.unpersist(); () }
  }

  /** Corpus size past which [[simhashNearDupPairsVerified]] tightens its
    * probe budget to 1 bit — same rationale as [[LshBandingCutover]].
    */
  val SimhashProbeCutover: Long = 20000L

  /** The (id, blk, key, sh) banded base rows of a simhash frame — ONE
    * banding definition shared by [[simhashNearDupPairsVerified]] and
    * the stress harness's work accounting ([[simhashCandidateStats]]).
    * The 8-byte sketch RIDES the banding rows deliberately: the r17
    * profile showed the pair dedup over the raw bucket-collision output
    * (12.5M distinct pairs at a 150k-doc corpus — 16-bit block keys
    * saturate there) costing 3× the rest of the op combined, while the
    * bit_count cost screen kills 99.6 % of those pairs; with the sketch
    * on the row the screen runs INLINE in the join stage, before
    * anything is shuffled for dedup.
    */
  private[graft] def simhashBandedBase(hashes: DataFrame, blocks: Int): DataFrame = {
    val width = 64 / blocks
    val mask = blockMask(width)
    hashes.select(
      col("id"),
      col("sh"),
      explode(
        array((0 until blocks).map { b =>
          struct(lit(b).as("blk"), shiftrightunsigned(col("sh"), b * width).bitwiseAND(mask).as("key"))
        }: _*)
      ).as("bb")
    ).select(col("id"), col("bb.blk"), col("bb.key"), col("sh"))
  }

  /** The multiprobe side of the simhash banded base: each row fans out
    * to its key XOR every ≤ `effProbeBits`-bit flip mask (plan-time
    * literal masks — [[hammingProbeMasks]], the same generator the
    * Hamming admission family uses).
    */
  private[graft] def simhashProbeSide(
      base: DataFrame, blocks: Int, effProbeBits: Int): DataFrame = {
    val width = 64 / blocks
    val probeMasks = hammingProbeMasks(width, effProbeBits)
    base.select(
      col("id"),
      col("blk"),
      explode(
        array(probeMasks.map(m => col("key").bitwiseXOR(lit(m))): _*)
      ).as("key"),
      col("sh"))
  }

  /** Candidate-volume accounting for [[simhashNearDupPairsVerified]] —
    * the stress work denominator (the [[minhashCandidateStats]] twin).
    * Returns (postings, probeRows, candOcc): total exploded shingle
    * occurrences (the linear sketch-build term), n · blocks · probe
    * masks (the multiprobe fan-out volume, under the SAME adaptive
    * probe-budget cutover the timed op applies), and the banded
    * probe-vs-base join's PRE-filter output volume — computed from the
    * two sides' per-(blk, key) counts (a bucket-count join, never the
    * candidate join itself).
    */
  private[graft] def simhashCandidateStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      blocks: Int = 4,
      probeBits: Int = 2): (Long, Long, Long) = {
    require(64 % blocks == 0, "blocks must divide 64")
    val width = 64 / blocks
    val sh = shingled(df, idCol, textCol, shingleN).cache()
    val hashes = simhashes(sh).cache()
    try {
      val n = hashes.count()
      val effProbeBits = if (n > SimhashProbeCutover) math.min(probeBits, 1) else probeBits
      val nMasks = hammingProbeMasks(width, effProbeBits).size
      val postings = sh
        .select(size(col("shingles")).cast("long").as("s"))
        .agg(coalesce(sum(col("s")), lit(0L))).head().getLong(0)
      val base = simhashBandedBase(hashes, blocks)
      val bc = base.groupBy("blk", "key").agg(count(lit(1)).as("nb"))
      val pc = simhashProbeSide(base, blocks, effProbeBits)
        .groupBy("blk", "key").agg(count(lit(1)).as("np"))
      val candOcc = pc.join(bc, Seq("blk", "key"))
        .agg(coalesce(sum(col("np") * col("nb")), lit(0L)).cast("long"))
        .head().getLong(0)
      (postings, n * blocks * nMasks, candOcc)
    } finally { hashes.unpersist(); sh.unpersist(); () }
  }

  // ---- shared Hamming banding layout (pair join + admission) ---------------

  /** Parameter contract shared by every Hamming-banded entry point: the
    * block-pigeonhole guarantee `(probeBits+1)·blocks − 1 ≥ radius` is what
    * makes recall EXACT rather than probabilistic, so a layout that cannot
    * cover the requested radius is a construction-time error.
    */
  private def requireHammingLayout(radius: Int, blocks: Int, probeBits: Int): Unit = {
    require(64 % blocks == 0, "blocks must divide 64")
    require(probeBits >= 0 && probeBits <= 3, "probeBits in [0,3]")
    require(
      (probeBits + 1) * blocks - 1 >= radius,
      s"radius $radius exceeds the pigeonhole guarantee ${(probeBits + 1) * blocks - 1} " +
        "of this block/probe layout — recall would be partial, not exact")
  }

  /** All-ones mask of `width` low bits. `1L << 64` wraps to 1 under JVM
    * shift semantics (shift amount mod 64), so the width-64 case (blocks =
    * 1 — one block spanning the whole sketch) is special-cased instead of
    * silently collapsing every band key to 0 (which would keep output
    * correct but degenerate banding to a single all-pairs bucket).
    */
  private def blockMask(width: Int): Long = if (width == 64) -1L else (1L << width) - 1L

  /** Every XOR mask of popcount ≤ `probeBits` over `width` bits — the
    * multiprobe fan-out, generated at plan time as literal masks.
    */
  private def hammingProbeMasks(width: Int, probeBits: Int): Seq[Long] = {
    def flips(start: Int, remaining: Int): Seq[Long] =
      if (remaining == 0) Seq(0L)
      else (start until width).flatMap(i => flips(i + 1, remaining - 1).map(m => m | (1L << i)))
    (0 to probeBits).flatMap(p => flips(0, p))
  }

  /** The BANDED layout of a 64-bit sketch table — `(blk, key, id, hh)`,
    * one row per (sketch, block): block b's key is bits [b·width,
    * (b+1)·width) of the hash. This is the stored artifact a 100 TB
    * pipeline persists beside the raw hash frame (partitioned by `blk`,
    * bucketed by `key`), so per-batch admission ([[hammingAdmitBanded]])
    * probes prune to touched buckets instead of re-exploding the whole
    * index on every call. Shared by [[hammingNearDupPairs]] and both
    * admission forms — one layout definition, no drift between the batch
    * and streaming paths.
    */
  def hammingIndexBanded(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      blocks: Int = 4
  ): DataFrame = {
    require(64 % blocks == 0, "blocks must divide 64")
    val width = 64 / blocks
    val mask = blockMask(width)
    df.select(col(idCol).cast("long").as("id"), col(hashCol).cast("long").as("hh"))
      .select(
        col("id"),
        col("hh"),
        explode(
          array((0 until blocks).map { b =>
            struct(lit(b).as("blk"), shiftrightunsigned(col("hh"), b * width).bitwiseAND(mask).as("key"))
          }: _*)
        ).as("bb"))
      .select(col("bb.blk").as("blk"), col("bb.key").as("key"), col("id"), col("hh"))
  }

  /** The multiprobe side of the banded layout: each base band row fans out
    * to its key XOR every ≤ `probeBits`-bit flip mask.
    */
  private def hammingProbes(banded: DataFrame, blocks: Int, probeBits: Int): DataFrame = {
    val width = 64 / blocks
    val probeMasks = hammingProbeMasks(width, probeBits)
    banded.select(
      col("id"),
      col("hh"),
      col("blk"),
      explode(array(probeMasks.map(m => col("key").bitwiseXOR(lit(m))): _*)).as("key"))
  }

  /** EXACT Hamming-radius self-join over any 64-bit sketch column — the
    * pair stage of perceptual-hash image dedup ([[Multimodal
    * .perceptualHashes]]' dHash), and generically of any fingerprint
    * whose ground truth IS Hamming distance (unlike
    * [[simhashNearDupPairsVerified]], where the sketch only screens for a
    * Jaccard verify).
    *
    * Same block-pigeonhole + multiprobe candidate layout as simhash: the
    * sketch splits into `blocks` equal blocks; one side probes each
    * block key plus every ≤ `probeBits`-bit XOR flip, so any pair within
    * Hamming `(probeBits+1)·blocks − 1` collides on some probe —
    * `radius` must sit within that structural guarantee (enforced), which
    * makes the output EXACTLY the all-pairs `popcount(xor) ≤ radius`
    * result: candidates are verified on the true distance, chance-found
    * pairs beyond the radius are dropped, recall is pigeonhole-complete.
    * Fully oracle-checkable against a brute-force re-derivation.
    *
    * Scale shape: never all-pairs — candidate volume is the banded
    * bucket mass n²·(probes/2^width) per block (defaults: 16-bit keys ×
    * 137 probes ≈ n²/120 of the quadratic work) plus the true pairs. The
    * defaults guarantee radius 11; web-scale corpora tighten to small
    * radii (Manku et al., WWW'07) — `blocks = radius+1` at 1-bit probes
    * — rather than widening buckets (the [[SimhashProbeCutover]] lesson).
    *
    * Input: `df` with a long id and a long sketch. Output: `(id_a, id_b,
    * hamming)`, id_a < id_b, one row per pair within `radius`.
    *
    * The plan scans `df` twice (band side + probe side). When the sketch
    * column is EXPENSIVE to produce (a decode pass — the perceptual-hash
    * callers), cache or materialize the 16-byte-per-row hash frame first
    * so the decode runs once; at 100 TB the hash table is the thing a
    * pipeline persists, never re-derives per query (the gates do this).
    */
  def hammingNearDupPairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      radius: Int = 11,
      blocks: Int = 4,
      probeBits: Int = 2
  ): DataFrame = {
    requireHammingLayout(radius, blocks, probeBits)
    // same single-long combined key as the stored-probe form: the
    // self-join shuffles both sides on ONE long column instead of a
    // generic (int, long) pair — cheaper hashing, narrower sort keys
    val width = 64 / blocks
    def ck(blk: Column, key: Column): Column =
      shiftleft(blk.cast("long"), width).bitwiseOR(key)
    val base = hammingIndexBanded(df, idCol, hashCol, blocks)
    hammingProbes(base, blocks, probeBits)
      .select(ck(col("blk"), col("key")).as("ck"), col("id"), col("hh"))
      .join(
        base.select(ck(col("blk"), col("key")).as("ck"), col("id").as("id2"), col("hh").as("hh2")),
        Seq("ck"))
      .where(col("id") < col("id2"))
      .select(
        col("id").as("id_a"),
        col("id2").as("id_b"),
        bit_count(col("hh").bitwiseXOR(col("hh2"))).as("hamming"))
      .where(col("hamming") <= radius)
      .dropDuplicates("id_a", "id_b")
  }

  /** ANY-SLOT Hamming-radius join — [[hammingNearDupPairs]] over items
    * that carry SEVERAL sketches each (one per temporal slot: the
    * N-frame video hash, a multi-crop image hash): two items pair iff
    * any SAME-slot sketch pair sits within `radius`. Same banded
    * pigeonhole layout with the slot folded into the bucket key (only
    * same-slot frames collide — cross-slot matches would pair the
    * intro of one clip with the finale of another), same exact-recall
    * guarantee per slot. Output `(id_a, id_b, hamming)` with id_a <
    * id_b, one row per pair, `hamming` = the minimum matching-slot
    * distance (deterministic, oracle-checkable).
    *
    * Input: `(idCol, slotCol, hashCol)` rows. Candidate volume is the
    * per-slot banded bucket mass summed over slots — the slot key keeps
    * buckets as selective as the single-sketch path.
    */
  def hammingNearDupPairsAnySlot(
      df: DataFrame,
      idCol: String,
      slotCol: String,
      hashCol: String,
      radius: Int = 11,
      blocks: Int = 4,
      probeBits: Int = 2
  ): DataFrame = {
    requireHammingLayout(radius, blocks, probeBits)
    val width = 64 / blocks
    val mask = blockMask(width)
    val base = df
      .select(
        col(idCol).cast("long").as("id"),
        col(slotCol).cast("int").as("slot"),
        col(hashCol).cast("long").as("hh"))
      .select(
        col("id"),
        col("slot"),
        col("hh"),
        explode(
          array((0 until blocks).map { b =>
            struct(lit(b).as("blk"), shiftrightunsigned(col("hh"), b * width).bitwiseAND(mask).as("key"))
          }: _*)
        ).as("bb"))
      .select(col("id"), col("slot"), col("hh"), col("bb.blk").as("blk"), col("bb.key").as("key"))
    val probeMasks = hammingProbeMasks(width, probeBits)
    val probes = base.select(
      col("id"),
      col("slot"),
      col("hh"),
      col("blk"),
      explode(array(probeMasks.map(m => col("key").bitwiseXOR(lit(m))): _*)).as("key"))
    probes
      .join(
        base.select(col("slot"), col("blk"), col("key"), col("id").as("id2"), col("hh").as("hh2")),
        Seq("slot", "blk", "key"))
      .where(col("id") < col("id2"))
      .select(
        col("id").as("id_a"),
        col("id2").as("id_b"),
        bit_count(col("hh").bitwiseXOR(col("hh2"))).as("hamming"))
      .where(col("hamming") <= radius)
      .groupBy("id_a", "id_b")
      .agg(min(col("hamming")).as("hamming"))
  }

  // ---- duplicate clustering (connected components) -------------------------

  /** Connected components over a near-dup pair list — the dedup ENDGAME:
    * pair lists only say who matches whom; retention policy needs the
    * transitive closure (A~B, B~C ⇒ one cluster) and one canonical
    * survivor per cluster.
    *
    * Iterative min-label propagation: every node starts as its own
    * representative; each round every node takes the minimum
    * representative seen across its neighborhood; fixpoint when no label
    * changes. Rounds required = component diameter — near-dup clusters
    * are small dense cliques, so 2-3 rounds in practice — and each round
    * is one shuffle join + hash aggregate on the edge relation, the
    * standard Spark CC layout. (Web-scale general graphs with long
    * chains/skewed hubs use the alternating small-star/large-star
    * formulation — Kiveris et al., "Connected Components in MapReduce and
    * Beyond" — which plugs into the same edge relation; for dedup graphs
    * plain propagation converges faster than the star rewrites pay off.)
    *
    * Output: (id, rep) for every id appearing in `pairs`, where rep is
    * the minimum id of its component — (id, rep != id) rows are exactly
    * the rows a keep-canonical dedup drops.
    */
  def duplicateComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      localThreshold: Long = 1L << 20
  ): DataFrame = {
    // drop null ids up front so the local and distributed paths see the
    // SAME edge set (the driver union-find would NPE on a null long, the
    // propagation joins would silently skip it — parity demands neither)
    val e = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val edges = e.union(e.select(col("dst").as("src"), col("src").as("dst"))).cache()
    // Adaptive local path (the broadcast-threshold idea applied to graph
    // connectivity): a near-dup pair list is already candidate-filtered,
    // so it is usually TINY relative to the corpus — union-find on the
    // driver resolves it in microseconds, where the distributed loop
    // pays a full join + aggregate + fixpoint-probe job PER ROUND. The
    // iterative path below remains the unbounded-size fallback and the
    // two must agree exactly (randomized parity in ExtSpec).
    val edgeCount = edges.count()
    // driver-memory bound for the local path: collect() materializes
    // ~2·edgeCount Row objects plus a boxed-Long map entry per node —
    // roughly 100 B/edge, so the default 2^20 threshold is ~100 MB of
    // transient driver heap. Raising localThreshold scales that
    // LINEARLY; past ~2^24 prefer the distributed fallback.
    if (edgeCount <= localThreshold) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.unpersist()
      val spark = pairs.sparkSession
      import spark.implicits._
      val out = parent.keys.toSeq.map(id => (id, find(id)))
      return out.toDF("id", "rep")
    }
    // seed with the FIRST propagation round directly: with identity labels,
    // round 1's neighborhood minimum is just min(dst) per src — one hash
    // aggregate over the edge relation, no labels join. Every node appears
    // as a src (edges are symmetrized), so this covers the node set too.
    // localCheckpoint (eager), NOT cache: `next` references `labels`
    // twice (the neighbor join and the left join), so without lineage
    // truncation the LOGICAL plan doubles every round — a deep graph
    // (long chains) drove plan analysis to a 2 GB plan string before any
    // data moved. Checkpointing pins each round's result and keeps the
    // per-round plan constant-size; a cache only reuses data at
    // execution, the analyzer still walks the full lineage.
    var labels = edges.groupBy("src").agg(min(col("dst")).as("nbr"))
      .select(col("src").as("id"), least(col("src"), col("nbr")).as("rep"))
      .localCheckpoint(true)
    // a node's rep only ever DECREASES (least of itself and neighbor
    // minima), so sum(rep) is strictly monotone while anything changes —
    // an unchanged sum is a fixpoint proof, one scan-aggregate per round
    // instead of a labels⋈labels diff join
    def repSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0)
    var lastSum = repSum(labels)
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("rep")).as("nbr_rep"))
      val next = labels
        .join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"))
        .localCheckpoint(true) // materializes + truncates lineage
      val nextSum = repSum(next)
      labels.unpersist() // blocks of the PREVIOUS round, no longer referenced
      labels = next
      converged = nextSum == lastSum
      lastSum = nextSum
      iter += 1
    }
    edges.unpersist()
    // a silent non-fixpoint would return WRONG representatives (labels
    // still mid-propagation) — for a library entry point that must be an
    // error, not quietly truncated output. maxIter bounds the component
    // diameter, and dedup graphs are shallow; a graph deeper than maxIter
    // needs the caller to raise it (or a star-contraction variant).
    if (!converged)
      throw new IllegalStateException(
        s"duplicateComponents did not converge within maxIter=$maxIter rounds; " +
          "component diameter exceeds the iteration budget — raise maxIter")
    labels
  }

  /** Exact-substring deduplication — the token-level analogue of Lee et
    * al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better", the ExactSubstr dedup): any ≥ `k`-token substring that
    * occurs more than once in the corpus (across documents OR repeated
    * inside one) is a duplicated span, and every occurrence EXCEPT the
    * first (lowest (doc_id, pos)) is reported for removal. The paper
    * builds one suffix array over the byte corpus; the distributed
    * re-expression uses positional k-gram matching, which finds exactly
    * the duplicated substrings of length ≥ k (a shared span of length
    * L ≥ k is covered by its L−k+1 shared k-grams; overlapping flagged
    * grams merge back into maximal spans) — same output contract, no
    * global suffix sort.
    *
    * Plan: one map-side positional k-gram explode (~n_tokens rows/doc) →
    * gram-keyed hash aggregate (occurrence count + min-(doc,pos) first
    * occurrence, the [[chunkDedupStats]] keep-first idiom) → join-back →
    * per-doc flagged positions run-merged into maximal spans by one
    * doc-keyed lag/cumsum window (adjacent-or-overlapping grams, `pos ≤
    * prev + k`, fuse). All integer arithmetic — oracle-exact. With
    * `hashKey` the gram string leaves the shuffle as an 8-byte xxhash64
    * (the production setting at 100 TB — a collision needs ~2³² distinct
    * grams per bucket; the raw-string default is the oracle-comparable
    * form, the same dial [[chunkDedupStats]] exposes).
    *
    * Output per document: `n_tokens`, `n_spans`, `dup_tokens` (tokens
    * inside removable spans), and `spans` — the `start:end` list in
    * token-position (numeric) order (token offsets, end exclusive) that
    * a downstream stripper ([[stripSpans]]) applies.
    */
  def exactSubstringSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      hashKey: Boolean = false
  ): DataFrame = {
    require(k > 0, "need k > 0")
    // one-shot corpus scan — widened ([[widenScan]]); the incremental
    // micro-batch form keeps its exchange-free plan
    val (base, grams0) = positionalGrams(
      widenScan(df.select(col(idCol), col(textCol))), idCol, textCol, k, hashKey)
    // one gram-keyed exchange feeding BOTH the occurrence aggregate and
    // the flag join-back (the ngramJaccardPairs reuse note): without it
    // the positional explode runs once per consumer
    val grams = grams0.repartition(col("g"))
    val occ = grams
      .groupBy("g")
      .agg(
        count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
    val flagged = grams
      .join(occ.where(col("cnt") >= 2), Seq("g"))
      .where(!(col("first.doc_id") === col("doc_id") && col("first.pos") === col("pos")))
      .select("doc_id", "pos")
    spansFromFlagged(base, flagged, k)
  }

  /** The positional k-gram stage shared by [[exactSubstringSpans]] and
    * its incremental form: (base docs with token arrays, one row per
    * (doc, pos, gram)).
    */
  private def positionalGrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      hashKey: Boolean
  ): (DataFrame, DataFrame) = {
    val words = split(trim(col(textCol)), "\\s+")
    val base = df
      .select(col(idCol).cast("long").as("doc_id"), words.as("ws"))
      .withColumn("n_tokens", size(col("ws")))
    val grams =
      if (hashKey) {
        // production path: one native pass builds every positional gram
        // hash (graft.functions.WordGramHashes — value-identical to the
        // slice+concat+xxhash64 form below, spec-pinned); posexplode
        // recovers (pos, g). The per-position slice copy + string
        // concat was the gram stage's center in the composed pipeline
        // profile (the explode also dragged the full token array
        // through every exploded row).
        GraftFunctions.register(df.sparkSession)
        df.select(
            col(idCol).cast("long").as("doc_id"),
            GraftFunctions.word_gram_hashes(col(textCol), k).as("gs"))
          .select(col("doc_id"), posexplode(col("gs")).as(Seq("pos", "g")))
      } else {
        val gram = concat_ws(" ", slice(col("ws"), col("pos") + 1, lit(k)))
        base
          .where(col("n_tokens") >= k)
          .select(
            col("doc_id"),
            explode(sequence(lit(0), col("n_tokens") - k)).as("pos"),
            col("ws"))
          .select(col("doc_id"), col("pos"), gram.as("g"))
      }
    (base, grams)
  }

  /** The run-merge + per-doc rollup stage shared by
    * [[exactSubstringSpans]] and its incremental form: flagged (doc,
    * pos) rows fuse into maximal spans; every base doc gets a row.
    */
  private def spansFromFlagged(base: DataFrame, flagged: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val spans = flagged
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn(
        "__ns",
        (col("__prev").isNull || col("pos") > col("__prev") + k).cast("long"))
      .withColumn(
        "__sid",
        sum(col("__ns")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__sid"))
      .agg(min(col("pos")).as("start"), (max(col("pos")) + k).as("end"))
    val perDoc = spans
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("end") - col("start")).as("dup_tokens"),
        // sort the (start, end) structs NUMERICALLY before formatting —
        // a lexicographic sort of the "start:end" strings would order
        // "10:16" before "2:8" and break any consumer (stripSpans) that
        // assumes token-position order.
        array_join(
          transform(
            sort_array(collect_list(struct(col("start"), col("end")))),
            sp => concat(sp.getField("start"), lit(":"), sp.getField("end"))),
          ",")
          .as("spans"))
    base
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("spans", coalesce(col("spans"), lit("")))
  }

  /** Embedding-space EVAL DECONTAMINATION — the semantic twin of
    * [[graft.ext.TextOps.contamination]]'s n-gram overlap check: every
    * eval vector is assigned to the TRAIN index's cells and is
    * contaminated iff some train vector in its cell reaches `threshold`
    * cosine — a train/eval leak an n-gram screen misses when the text
    * was paraphrased but the embedding wasn't. Train reduces to its
    * stored [[semanticIndex]]; the probe is one cluster-equi join
    * against touched cells (O(eval + touched-cell occupancy), never
    * train×eval). Same cell-approximation recall trade as
    * [[semanticDedup]] (a cross-cell leak is missed; ExtSpec pins the
    * planted-leak recall). No id-ordering contract — contamination is
    * membership, not keep-first.
    *
    * Output per eval vector: `(id, cluster, contaminated)`.
    *
    * CONVENIENCE FORM — re-derives the seeds from the index on every
    * call (a TakeOrdered over the full stored index). `numClusters` MUST
    * equal the K `trainIndex` was built with: a mismatch silently
    * assigns the eval side with different seeds than the index's
    * `cluster` labels, probing wrong cells and missing leaks with no
    * error — the precondition is as load-bearing as the monotone-id
    * contract elsewhere in this file. A recurring screen persists the
    * seed table once ([[semanticSeeds]]) and calls the stored-seed
    * overload, which has no K parameter to mismatch and no per-call
    * index scan.
    */
  def semanticContamination(
      trainIndex: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      numClusters: Int,
      threshold: Double
  ): DataFrame = {
    require(numClusters >= 1, "need at least one cluster")
    val seeds = trainIndex
      .orderBy("id")
      .limit(numClusters)
      .select(col("id").as("seed_id"), col("v").as("seed_v"))
    semanticContamination(trainIndex, seeds, eval, idCol, vecCol, threshold)
  }

  /** [[semanticContamination]] against the STORED seed table — seeds are
    * fixed at index build, so the recurring form takes them as the
    * persisted K-row artifact instead of re-scanning the index per call.
    * Output and recall contract identical to the convenience form.
    */
  def semanticContamination(
      trainIndex: DataFrame,
      seeds: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val idx = trainIndex.select(col("id"), col("cluster"), col("v"))
    val b = eval.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val assigned = b.join(assignToSeeds(b, seeds), "id")
    val hit = assigned.as("b")
      .join(idx.as("a"), col("a.cluster") === col("b.cluster"))
      .where(
        graft.functions.GraftFunctions.cosine_similarity(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.id").as("id"))
      .distinct()
      .withColumn("__hit", lit(true))
    assigned
      .join(hit, Seq("id"), "left_outer")
      .select(col("id"), col("cluster"), col("__hit").isNotNull.as("contaminated"))
  }

  /** Ingestion-time perceptual-hash admission — [[hammingNearDupPairs]]'
    * O(batch) form (the [[semanticAdmit]] shape for the image/audio/
    * video families): an arriving batch of 64-bit sketches probes the
    * STORED hash index and cross-checks within the batch. Statuses mirror
    * [[incrementalDedup]]: `dup_snapshot` (a stored sketch within
    * `radius`), `dup_batch` (only an earlier batch sketch matches),
    * `new`. With monotone ingest ids, `status != new` ⟺ the item is
    * dropped by keep-first [[hammingNearDupPairs]] dedup over
    * index ∪ batch — recall is pigeonhole-complete, the verify exact.
    *
    * This convenience form takes the RAW `(id, hash)` index and re-bands
    * it on every call — fine for one-shot screening, wrong for a
    * streaming cadence: at a 5 s trigger over a 10⁹-row index the
    * per-call explode dominates. Production persists the banded layout
    * once ([[hammingIndexBanded]], partitioned by `blk` / bucketed by
    * `key`) and calls [[hammingAdmitBanded]], which touches only probed
    * buckets; this form is exactly that call after one inline banding
    * pass, so the two are output-identical by construction.
    */
  def hammingAdmit(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      hashCol: String,
      radius: Int = 11,
      blocks: Int = 4,
      probeBits: Int = 2
  ): DataFrame =
    hammingAdmitBanded(
      hammingIndexBanded(index, idCol, hashCol, blocks),
      batch, idCol, hashCol, radius, blocks, probeBits)

  /** [[hammingAdmit]] against the STORED banded index — the per-trigger
    * form a 100 TB streaming deployment runs: `bandedIndex` is a
    * persisted [[hammingIndexBanded]] table `(blk, key, id, hh)`
    * (partitioned by `blk`, bucketed by `key`), so each admission call
    * costs one batch-side banding explode + one probe join that prunes
    * to touched buckets — never a whole-index scan or re-banding.
    * `blocks` must equal the block count the index was banded with (the
    * layout is visible: a mismatched `blocks` yields probe keys outside
    * the stored key width and the `require` radius guarantee would be
    * vacuous — band the index and probe with the same layout). After
    * admission the index advances by appending the batch's banded rows
    * (union — no rebuild).
    */
  def hammingAdmitBanded(
      bandedIndex: DataFrame,
      batch: DataFrame,
      idCol: String,
      hashCol: String,
      radius: Int = 11,
      blocks: Int = 4,
      probeBits: Int = 2
  ): DataFrame = {
    requireHammingLayout(radius, blocks, probeBits)
    val snapHit = hammingSnapshotHitIds(bandedIndex, batch, idCol, hashCol, radius, blocks, probeBits)
      .withColumn("__snap", lit(true))
    val batchHit = hammingNearDupPairs(batch, idCol, hashCol, radius, blocks, probeBits)
      .select(col("id_b").as("id"))
      .distinct()
      .withColumn("__batch", lit(true))
    batch
      .select(col(idCol).cast("long").as("id"), col(hashCol).cast("long").as(hashCol))
      .join(snapHit, Seq("id"), "left_outer")
      .join(batchHit, Seq("id"), "left_outer")
      .select(
        col("id"),
        col(hashCol),
        when(col("__snap"), lit("dup_snapshot"))
          .when(col("__batch"), lit("dup_batch"))
          .otherwise(lit("new"))
          .as("status"))
  }

  /** The stored-index leg of [[hammingAdmitBanded]] alone: ids of batch
    * rows within `radius` of ANY stored sketch. Factored out so the
    * composed ingest pipeline can run it (and the in-batch pair leg)
    * SPECULATIVELY on the full batch, concurrent with the text stages —
    * the hit predicate is pointwise, so restricting the result to the
    * text stages' survivors afterward is exact.
    */
  private[graft] def hammingSnapshotHitIds(
      bandedIndex: DataFrame,
      batch: DataFrame,
      idCol: String,
      hashCol: String,
      radius: Int,
      blocks: Int,
      probeBits: Int
  ): DataFrame = {
    // probe-join layout (r18): for a TRIGGER-sized batch the multiprobe
    // fan-out is BROADCAST (pinned — the store side must never shuffle
    // per trigger) and the join key is ONE long (blk folded into the
    // key's high bits) so the broadcast builds a primitive
    // LongHashedRelation instead of hashing generic two-column rows —
    // the store-linear matching term is per-streamed-row lookup cost,
    // and the long-map lookup is the cheap form of it. The store side
    // is projected to (ck, hh) before the join: 16 bytes per streamed
    // row. A CORPUS-sized batch (store seeding, batch-0 ingest of a
    // whole snapshot) would blow the 8 GiB broadcast wall, so past
    // [[ProbeBroadcastMaxBatchRows]] the probe falls back to the plain
    // shuffle join — one batch.count() (cheap: callers cache the batch)
    // picks the shape.
    val width = 64 / blocks
    def ck(blk: Column, key: Column): Column =
      shiftleft(blk.cast("long"), width).bitwiseOR(key)
    val bBase = hammingIndexBanded(batch, idCol, hashCol, blocks)
    val probes = hammingProbes(bBase, blocks, probeBits)
      .select(ck(col("blk"), col("key")).as("ck"), col("id"), col("hh"))
    val storeSide = bandedIndex
      .select(ck(col("blk"), col("key")).as("ck"), col("hh").as("hh2"))
    val joined =
      if (estimatedBytes(bandedIndex) <= ProbeSmallStoreBytes)
        // small store: plain join — the planner broadcasts the STORE
        // side and the probe fuses into the enclosing stage (no extra
        // broadcast stage, no probe collect)
        probes.join(storeSide, Seq("ck"))
      else if (batch.count() <= ProbeBroadcastMaxBatchRows)
        storeSide.join(broadcast(probes), Seq("ck"))
      else probes.join(storeSide, Seq("ck"))
    joined
      .where(bit_count(col("hh").bitwiseXOR(col("hh2"))) <= radius)
      .select(col("id"))
      .distinct()
  }

  /** The stored GRAM INDEX behind incremental exact-substring dedup: the
    * DISTINCT k-gram keys of the ingested corpus (hashed 8-byte keys
    * with `hashKey` — the production layout, bucketed by gram hash so
    * admission probes prune). Presence is all admission needs: a gram
    * already in the index means its first occurrence is stored, so every
    * arriving occurrence is removable.
    */
  def substringGramIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      hashKey: Boolean = false
  ): DataFrame = {
    require(k > 0, "need k > 0")
    positionalGrams(df, idCol, textCol, k, hashKey)._2.select("g").distinct()
  }

  /** Ingestion-time exact-substring dedup — [[exactSubstringSpans]]'
    * O(batch) admission form (the [[semanticAdmit]]/[[incrementalDedup]]
    * shape): a new document batch's positional k-grams probe the stored
    * [[substringGramIndex]] plus the batch's own occurrence table; a
    * position is flagged iff its gram is already stored (first
    * occurrence lives in the snapshot) OR repeats within the batch
    * beyond its first. Flagged positions run-merge to maximal spans
    * exactly as in the batch operator.
    *
    * EQUIVALENCE CONTRACT (gate-pinned): provided every batch doc id
    * exceeds every snapshot doc id, the output EQUALS the full-corpus
    * [[exactSubstringSpans]] over snapshot ∪ batch restricted to the
    * batch docs — the union's min-(doc,pos) for a stored gram is always
    * a snapshot key, and for a batch-only gram the batch's own min.
    * After admission the index advances by the batch's distinct grams
    * (union — no rebuild).
    *
    * Cost per batch: one token-linear gram explode over the BATCH only
    * + one presence join against the (bucket-pruned) index + the
    * batch-internal occurrence aggregate. Never a corpus rescan.
    */
  def exactSubstringSpansIncremental(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      hashKey: Boolean = false,
      broadcastProbe: Option[Boolean] = None
  ): DataFrame = {
    require(k > 0, "need k > 0")
    // no forced gram exchange here, unlike [[exactSubstringSpans]]: this
    // is the MICRO-BATCH form — at trigger-sized inputs the planner
    // broadcasts the occurrence aggregate and streams the positional
    // grams without any shuffle, which a forced repartition would
    // destroy (measured +0.3 s per trigger in the composed pipeline)
    val (base, grams) = positionalGrams(batch, idCol, textCol, k, hashKey)
    val occB = grams
      .groupBy("g")
      .agg(
        count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
    // store-side contact is ONE broadcast-semi pass (r18): joining the
    // batch grams left_outer against the raw index would SHUFFLE the
    // whole index per trigger (the index is the big side of that join,
    // so the planner sort-merges both sides — measured ~0.5 s of pure
    // index exchange+sort per probe at a 21M-gram store). Instead the
    // index is semi-joined map-only against the broadcast batch gram
    // set (output ≤ batch grams — the store stays unshuffled and only
    // its touched-bucket bytes are scanned), and that small hit set is
    // broadcast back into the flag join. Bit-identical: the store is a
    // gram SET (builders are distinct; appends are left_anti), so
    // left_outer against it never duplicated rows. A CORPUS-sized batch
    // (store seeding — batch 0 of a whole snapshot) would blow the
    // 8 GiB broadcast wall, so past [[ProbeBroadcastMaxBatchRows]] docs
    // the probe keeps the plain left_outer shuffle shape — correct
    // either way. broadcastProbe = Some(x) lets a caller that already
    // knows the batch size pick the shape WITHOUT an extra count (the
    // composed pipeline hands this stage a LAZY fused frame — counting
    // it here would force the upstream stage early and break the
    // fusion); None counts the batch (cheap: callers cache it).
    def flagWhere(df: DataFrame): DataFrame = df
      .where(
        col("__snap").isNotNull ||
          (col("cnt") >= 2 &&
            !(col("first.doc_id") === col("doc_id") && col("first.pos") === col("pos"))))
      .select("doc_id", "pos")
    val flagged =
      if (estimatedBytes(index) <= ProbeSmallStoreBytes)
        // small store: the planner broadcasts the INDEX side of the
        // left_outer (BuildRight), fully fused — zero extra stages
        flagWhere(grams.join(occB, Seq("g"))
          .join(index.select(col("g")).withColumn("__snap", lit(1)), Seq("g"), "left_outer"))
      else if (broadcastProbe.getOrElse(batch.count() <= ProbeBroadcastMaxBatchRows)) {
        // no .distinct() on the broadcast side: the semi-join's hash
        // build collapses duplicate keys itself, and an explicit
        // distinct would add a 1M-row shuffle to the trigger's critical
        // path
        val snapG = index
          .select(col("g"))
          .join(broadcast(grams.select("g")), Seq("g"), "left_semi")
          .withColumn("__snap", lit(1))
        flagWhere(grams.join(occB, Seq("g")).join(broadcast(snapG), Seq("g"), "left_outer"))
      } else
        flagWhere(grams.join(occB, Seq("g"))
          .join(index.select(col("g")).withColumn("__snap", lit(1)), Seq("g"), "left_outer"))
    spansFromFlagged(base, flagged, k)
  }

  /** Span application — the STRIPPER that turns [[exactSubstringSpans]]'
    * output into the actual training-data corpus: every token inside a
    * removable `start:end` span is dropped, the survivors re-join with
    * single spaces (the tokenizer's whitespace normal form — the
    * contract is token-level, so the output is the kept token sequence,
    * not a byte-preserving splice). Pure array expressions (positional
    * `filter` + `exists` over the parsed span structs) — no UDF, map-side
    * only after the one spans join, O(tokens·spans) per document with
    * spans already run-merged maximal (typically a handful).
    *
    * `spans` must carry `doc_id` and the position-ordered `spans` string
    * [[exactSubstringSpans]] emits; documents without a spans row (or
    * with an empty list) pass through whole. Output: `doc_id`,
    * `n_tokens`, `kept_tokens`, `stripped_text`.
    */
  def stripSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame
  ): DataFrame = {
    val ws = split(trim(col(textCol)), "\\s+")
    val parsed = transform(
      filter(split(coalesce(col("spans"), lit("")), ","), s => s =!= ""),
      s =>
        struct(
          split(s, ":").getItem(0).cast("int").as("s"),
          split(s, ":").getItem(1).cast("int").as("e")))
    df.select(col(idCol).cast("long").as("doc_id"), ws.as("__ws"))
      .join(spans.select(col("doc_id"), col("spans")), Seq("doc_id"), "left_outer")
      .withColumn("__sp", parsed)
      .withColumn(
        "__kept",
        filter(
          col("__ws"),
          (w, i) => !exists(col("__sp"), p => i >= p.getField("s") && i < p.getField("e"))))
      .select(
        col("doc_id"),
        size(col("__ws")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("kept_tokens"),
        array_join(col("__kept"), " ").as("stripped_text"))
  }

  /** Quality-aware duplicate-cluster resolution — the retention step
    * after [[duplicateComponents]]: real pipelines keep the BEST
    * document per near-dup cluster (highest quality score; the min-id
    * convention is only the degenerate scoreless case), not an arbitrary
    * first occurrence. Every doc is annotated with its canonical cluster
    * id (itself for singletons) and whether it is the cluster's kept
    * representative: max `scoreCol`, ties broken toward the smallest id,
    * so the decision is deterministic and replayable.
    *
    * Scale shape: the component table is DUPLICATE-band-sized (only ids
    * appearing in `pairs`), so both corpus joins are equi-joins against
    * a small relation (AQE broadcasts them at typical dup rates) and the
    * argmax aggregate groups only clustered docs — singletons never
    * shuffle on a cluster key. A null score loses to any non-null one
    * (Spark's null-first struct ordering under max).
    *
    * Output: (id, canonical_id, kept) — one row per input doc; exactly
    * one kept=true row per canonical_id. Pair ids absent from `docs`
    * don't participate (they have no score to compete with).
    */
  def keepBestPerCluster(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: String
  ): DataFrame = {
    val ids = docs.select(col(idCol).cast("long").as("id"), col(scoreCol).as("__score"))
    val comps = duplicateComponents(pairs) // (id, rep) — dup band only
    val best = ids
      .join(comps, Seq("id"))
      .groupBy("rep")
      .agg(max(struct(col("__score").as("s"), (-col("id")).as("nid"))).as("b"))
      .select(col("rep"), (-col("b.nid")).as("keep_id"))
    ids
      .join(comps, Seq("id"), "left")
      .join(best, Seq("rep"), "left")
      .select(
        col("id"),
        coalesce(col("rep"), col("id")).as("canonical_id"),
        coalesce(col("id") === col("keep_id"), lit(true)).as("kept"))
  }

  // ---- embedding cosine near-dup ------------------------------------------

  /** SemDeDup — semantic deduplication by cluster-then-prune (Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): partition the embedding space into
    * `numClusters` cells, compute pairwise cosine ONLY within each cell,
    * and drop every vector that has a semantic duplicate (cos ≥
    * `threshold`) of higher keep-priority. Keep-priority here is lowest
    * id (the keep-first rule every other dedup family in this file uses;
    * the paper's centroid-distance priority is a one-line swap of the
    * pair orientation). The drop rule is per-item, not per-component —
    * item b is dropped iff SOME kept-or-not a < b in its cell matches it
    * — which is the paper's implementation and needs no iteration.
    *
    * Clustering is deliberately DETERMINISTIC: the cells are nearest-seed
    * (max cosine, ties to the lowest seed id) against the `numClusters`
    * lowest-id vectors — one broadcast pass, exactly reproducible in the
    * DuckDB oracle, unlike iterated k-means. Production swaps in
    * [[Similarity.ivfIndex]]'s trained centroids through the same
    * assignment shape; the prune stage is unchanged. Mis-clustered true
    * pairs (the known SemDeDup recall trade) are mirrored by the oracle,
    * so the gate pins the ALGORITHM, and ExtSpec pins planted-copy recall
    * separately.
    *
    * Scale shape — the whole point of SemDeDup: the all-pairs stage is
    * n²/numClusters, not n². Assignment is a broadcast nested-loop over
    * `numClusters` seed rows (map-side, no shuffle); the prune self-join
    * shuffles on the cell id, so `numClusters` must grow with the corpus
    * (target ~1k vectors per cell, the paper's regime) — at small K the
    * join is both under-parallel and quadratic per cell. With K ∝ n the
    * flat assignment scan is itself n·K cosines — fine through ~10⁶
    * vectors; past that, route the assignment through an ANN probe
    * ([[Similarity.ivfTopK]] over the seed table, or nested cells) and
    * keep the prune stage unchanged. Output: one row per input vector —
    * (id, cluster, kept). StressBench's `semantic_dedup` probe exercises
    * the K-scales-with-n dial.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numClusters: Int,
      threshold: Double
  ): DataFrame =
    semanticDedupImpl(df, idCol, vecCol, numClusters, threshold, SemanticDedupMaxGroupRows)

  /** [[semanticDedup]] with the group-pass cell bound as a parameter —
    * package-visible so ExtSpec can force the join-form fallback on a
    * small corpus and pin its output identical to the group pass.
    */
  private[graft] def semanticDedupImpl(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numClusters: Int,
      threshold: Double,
      maxGroupRows: Long
  ): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val spark = df.sparkSession
    import spark.implicits._
    // cached for the two consumers below (cell-size precheck + prune
    // pass); released after the eager result checkpoint — the
    // minhashNearDupPairs release convention
    val withV = semanticIndex(df, idCol, vecCol, numClusters).cache()
    try {
      // null vectors: the join form's CosineSimilarity returns null
      // against anything, so a null vector is always KEPT and never
      // drops a neighbor — routed around the prune pass here (the
      // group-pass iterator would NPE on the norm dereference), with
      // exactly those semantics
      val nonNull = withV.where(col("v").isNotNull)
      val nullKept = withV.where(col("v").isNull)
        .select(col("id"), col("cluster"), lit(true).as("kept"))
      // Within-cell prune as ONE cluster-sorted group pass instead of the
      // cluster self-join: the join form enumerated every within-cell
      // pair as a constructed row carrying BOTH 256-byte vectors before
      // the cosine filter — ~520 B of row assembly per candidate pair,
      // measured 61 s for 440M pairs at the 100× stress scale where the
      // arithmetic itself is ~30 GFLOP. Here each cell's vectors stream
      // through one task in id order over primitive float arrays: a doc
      // is dropped on its FIRST prior hit (early exit — prior hits are
      // the COMMON case in a duplicate-heavy corpus), priors accumulate
      // in a growable array, and the cosine replicates
      // [[graft.functions.CosineSimilarity]] bit-for-bit (min-length
      // prefix, double accumulation in element order, dot/sqrt(na*nb) —
      // per-vector norms are only cached when lengths match, because the
      // expression's na/nb are PREFIX sums when they differ).
      // Memory: O(cell × dim) floats per ACTIVE TASK heap — the
      // K ∝ n/1000 dial is what bounds cells (same contract as the join
      // form's candidate volume), and the precheck below enforces it: a
      // cell past [[SemanticDedupMaxGroupRows]] (a skew-collapsed
      // assignment, or a caller holding K fixed while n grew) would
      // buffer the whole cell in one executor heap, so those corpora
      // fall back to the shuffle-based, SPILLABLE self-join instead of
      // OOMing mid-task.
      val maxCell = nonNull.groupBy("cluster").agg(count(lit(1)).as("n"))
        .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
      val pruned =
        if (maxCell > maxGroupRows) {
          val a = nonNull.select(
            col("cluster"), col("id").as("a_id"), col("v").as("a_v"))
          val b = nonNull.select(
            col("cluster"), col("id").as("b_id"), col("v").as("b_v"))
          val hit = a.join(b, Seq("cluster"))
            .where(col("a_id") < col("b_id") &&
              graft.functions.GraftFunctions
                .cosine_similarity(col("a_v"), col("b_v")) >= threshold)
            .select(col("b_id").as("id")).distinct()
            .withColumn("__hit", lit(true))
          nonNull.select("id", "cluster")
            .join(hit, Seq("id"), "left_outer")
            .select(col("id"), col("cluster"),
              coalesce(!col("__hit"), lit(true)).as("kept"))
        } else {
          val cells = nonNull
            .select(col("cluster"), col("id"), col("v").cast(ArrayType(FloatType)).as("v"))
            .as[(Long, Long, Array[Float])]
          cells
            .groupByKey(_._1)
            .flatMapSortedGroups($"id") { (cluster: Long, it: Iterator[(Long, Long, Array[Float])]) =>
              val priors = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
              val norms = scala.collection.mutable.ArrayBuffer.empty[Double]
              def fullNorm(v: Array[Float]): Double = {
                var s = 0.0; var i = 0
                while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
                s
              }
              it.map { case (_, id, v) =>
                val nv = fullNorm(v)
                var dropped = false
                var p = 0
                while (!dropped && p < priors.length) {
                  val a = priors(p)
                  val n = math.min(a.length, v.length)
                  var dot = 0.0; var i = 0
                  val (na, nb) =
                    if (a.length == v.length) {
                      while (i < n) { dot += a(i).toDouble * v(i).toDouble; i += 1 }
                      (norms(p), nv)
                    } else {
                      // unequal lengths: the expression's norms are prefix
                      // sums over min(len) — recompute exactly
                      var sa = 0.0; var sb = 0.0
                      while (i < n) {
                        val x = a(i).toDouble; val y = v(i).toDouble
                        dot += x * y; sa += x * x; sb += y * y; i += 1
                      }
                      (sa, sb)
                    }
                  val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
                  if (cos >= threshold) dropped = true
                  p += 1
                }
                priors += v
                norms += nv
                (id, cluster, !dropped)
              }
            }
            .toDF("id", "cluster", "kept")
        }
      // eager-materialize (small: one row per vector), then release the
      // assignment cache — no CacheManager entry survives the call
      pruned.unionByName(nullKept).localCheckpoint(eager = true)
    } finally { withV.unpersist(); () }
  }

  /** Per-cell row bound past which [[semanticDedup]] abandons the
    * heap-buffered group pass for the shuffle-based (spillable)
    * within-cell self-join. The group pass holds one cell's vectors in
    * one task's heap — at the documented ~1k-vectors/cell contract that
    * is ~256 KB, but a skew-collapsed assignment or a fixed-K caller on
    * a grown corpus can produce million-row cells, which should degrade
    * to shuffle spill, not an executor OOM. 500k rows × 64-dim floats
    * ≈ 130 MB of primitive arrays per task — well inside a normal
    * executor heap while far past any on-contract cell.
    */
  val SemanticDedupMaxGroupRows: Long = 500000L

  /** The stored SEMANTIC INDEX behind [[semanticDedup]] and
    * [[semanticAdmit]]: every vector with its deterministic cell —
    * `(id, cluster, v)`. This is the state a 100 TB ingestion pipeline
    * persists (partitioned/bucketed by `cluster`, so admission probes
    * prune to touched cells); seeds are the `numClusters` lowest-id
    * vectors (see [[semanticDedup]] for why nearest-seed assignment is
    * deliberately deterministic). One broadcast assignment pass — no
    * self-join, no shuffle beyond the group-by-id argmax.
    *
    * SCALING CONTRACT (SemDeDup's own regime): `numClusters` MUST grow
    * with the corpus — target ~1k vectors per cell, i.e. K ≈ n/1000. At
    * fixed K the downstream within-cell pair stages
    * ([[semanticDedup]]'s prune join, [[semanticAdmit]]'s cell probe)
    * are quadratic in n BY CONSTRUCTION (cells hold n/K vectors each);
    * the stress harness scales K with every expansion for exactly this
    * reason.
    */
  def semanticIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numClusters: Int
  ): DataFrame = {
    // scan-widened: embedding parquet compresses well under the byte-
    // sized split rule, and the broadcast n·K assignment cosines run at
    // scan parallelism ([[widenScan]])
    val base = widenScan(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")))
    base.join(assignToSeeds(base, semanticSeeds(df, idCol, vecCol, numClusters)), "id")
  }

  /** The SEED table beside [[semanticIndex]] — `(seed_id, seed_v)`, the
    * `numClusters` lowest-id vectors of the corpus the index was built
    * from. Seeds are FIXED at index build (they define the cell labels),
    * so a pipeline persists this K-row table beside the index and hands
    * it to [[semanticAdmit]]/[[semanticContamination]]'s stored-seed
    * overloads: admission then costs O(batch + touched cells) with no
    * per-call scan of the stored index to re-derive what never changes.
    */
  def semanticSeeds(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numClusters: Int
  ): DataFrame = {
    require(numClusters >= 1, "need at least one cluster")
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy("id")
      .limit(numClusters)
      .select(col("id").as("seed_id"), col("v").as("seed_v"))
  }

  /** Nearest-seed cell assignment — argmax cosine with deterministic
    * ties: (cos, -seed_id) pairs are unique, so max(struct) picks the
    * lowest seed id among equal cosines. Broadcast over the seed table;
    * input `(id, v)`, output `(id, cluster)`.
    */
  private def assignToSeeds(base: DataFrame, seeds: DataFrame): DataFrame =
    base
      .join(broadcast(seeds))
      .withColumn(
        "__m",
        struct(
          graft.functions.GraftFunctions.cosine_similarity(col("v"), col("seed_v")).as("c"),
          (-col("seed_id")).as("ns"))
      )
      .groupBy("id")
      .agg(max(col("__m")).as("__best"))
      .withColumn("cluster", -col("__best.ns"))
      .select("id", "cluster")

  /** Streaming/ingestion-time SemDeDup ADMISSION — the O(batch) form a
    * 100 TB pipeline actually runs: screen a new ingest batch against the
    * stored [[semanticIndex]] without rescanning the corpus. The batch is
    * assigned by the SAME seed rule (seeds re-derived as the index's
    * `numClusters` lowest ids), probed against index members of its
    * touched cells only (one join on `cluster` — with the index bucketed
    * by cell this reads just those cells), and cross-checked within the
    * batch by the keep-first rule.
    *
    * EQUIVALENCE CONTRACT (the property the gate pins): provided every
    * batch id exceeds every index id (monotone ingestion ids) and the
    * index holds ≥ `numClusters` vectors, the union's seeds equal the
    * index's seeds, so a batch vector's status here is EXACTLY its fate
    * under a full [[semanticDedup]] over index ∪ batch: `new` ⟺ kept.
    * Statuses mirror [[incrementalDedup]]: `dup_snapshot` (a stored
    * vector within `threshold` in its cell), `dup_batch` (only an
    * earlier batch vector matches), `new`.
    *
    * Cost per batch: |batch|·K assignment cosines (broadcast, map-side)
    * + |batch|·(touched-cell occupancy) probe cosines + n²/K within the
    * batch — never a corpus rescan.
    *
    * CONVENIENCE FORM — re-derives the seeds as the index's
    * `numClusters` lowest-id rows on every call, which is one
    * TakeOrdered over the FULL stored index per admission; at a 5 s
    * streaming cadence over a 10⁹-row index that scan dominates the
    * batch work. `numClusters` MUST equal the K the index was built
    * with: a mismatch silently assigns the batch with different seeds
    * than the index's `cluster` labels, probing wrong cells and missing
    * duplicates with no error — as load-bearing as the monotone-id
    * contract above. The production path persists [[semanticSeeds]]
    * beside the index and calls the stored-seed overload (no K to
    * mismatch, no per-call index scan).
    */
  def semanticAdmit(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      numClusters: Int,
      threshold: Double
  ): DataFrame = {
    require(numClusters >= 1, "need at least one cluster")
    val seeds = index
      .orderBy("id")
      .limit(numClusters)
      .select(col("id").as("seed_id"), col("v").as("seed_v"))
    semanticAdmit(index, seeds, batch, idCol, vecCol, threshold)
  }

  /** [[semanticAdmit]] against the STORED seed table — the per-trigger
    * form a streaming deployment runs: `seeds` is the persisted
    * [[semanticSeeds]] artifact (fixed at index build), so each
    * admission call costs only the broadcast assignment + touched-cell
    * probe + within-batch check — no scan of the stored index beyond
    * the probed cells. Output and equivalence contract identical to the
    * convenience form.
    */
  def semanticAdmit(
      index: DataFrame,
      seeds: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    // eager-materialize + release: the public form returns a
    // localCheckpointed status frame (one small row per batch doc) so
    // the cached assignment frame the probe scans four times is
    // unpersisted BEFORE returning — a long-running caller probing per
    // batch must not accumulate CacheManager entries (checkpoint blocks
    // are reference-counted by the ContextCleaner, cache entries are
    // pinned until explicit unpersist). Per-trigger composition uses
    // the staged form and releases at its own commit barrier.
    val (res, cleanup) = semanticAdmitStaged(index, seeds, batch, idCol, vecCol, threshold)
    try res.localCheckpoint(eager = true) finally cleanup()
  }

  /** [[semanticAdmit]] with the multi-scanned assignment cache's
    * lifetime handed to the caller: returns the LAZY status frame plus
    * a cleanup thunk that must run after the result is consumed (the
    * streamed maintainers' staged `(result, cleanup)` convention).
    */
  private[graft] def semanticAdmitStaged(
      index: DataFrame,
      seeds: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): (DataFrame, () => Unit) = {
    val (assigned, snapIds, pairIds, cleanup) =
      semanticProbePhase(index, seeds, batch, idCol, vecCol, threshold)
    val snapHit = snapIds.withColumn("__snap", lit(true))
    val batchHit = pairIds
      .select(col("id_b").as("id"))
      .distinct()
      .withColumn("__batch", lit(true))
    val res = assigned
      .join(snapHit, Seq("id"), "left_outer")
      .join(batchHit, Seq("id"), "left_outer")
      .select(
        col("id"),
        col("cluster"),
        when(col("__snap"), lit("dup_snapshot"))
          .when(col("__batch"), lit("dup_batch"))
          .otherwise(lit("new"))
          .as("status"))
    (res, cleanup)
  }

  /** The probe legs of [[semanticAdmit]] factored apart: the assignment
    * frame (id, cluster), the stored-index hit ids, and the raw
    * within-batch duplicate PAIRS (id_a < id_b). Both hit predicates
    * are pointwise/pairwise in the batch rows, so the composed ingest
    * pipeline runs this phase speculatively on the FULL batch
    * (concurrent with the text stages) and restricts to the survivor
    * set afterward — exactly equivalent to probing the survivors alone.
    * The returned cleanup releases the multi-scanned assignment cache
    * and must run once the consumer's result is materialized.
    */
  private[graft] def semanticProbePhase(
      index: DataFrame,
      seeds: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): (DataFrame, DataFrame, DataFrame, () => Unit) = {
    val idx = index.select(col("id"), col("cluster"), col("v"))
    val b = batch.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // cache: the assignment (n·K broadcast cosines) feeds four scans —
    // the snapshot probe, both sides of the within-batch check, and the
    // final status join (the in-file .cache() convention; released by
    // the returned cleanup)
    val assigned = b.join(assignToSeeds(b, seeds), "id").cache()
    val cos = (a: Column, bb: Column) => graft.functions.GraftFunctions.cosine_similarity(a, bb)
    val snapIds = assigned.as("b")
      .join(idx.as("a"), col("a.cluster") === col("b.cluster"))
      .where(cos(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.id").as("id"))
      .distinct()
    val pairIds = assigned.as("b")
      .join(
        assigned.as("a"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .where(cos(col("a.v"), col("b.v")) >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    (assigned, snapIds, pairIds, () => { assigned.unpersist(); () })
  }

  /** Near-duplicate pairs by embedding cosine ≥ `threshold`. Brute-force
    * all-pairs — the exact baseline and the oracle-checked form; at corpus
    * scale use [[embeddingNearDupPairsLsh]], which replaces the cross join
    * with SRP-bucket candidates.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val a = df.select(col(idCol).cast("long").as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).cast("long").as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", GraftFunctions.cosine_similarity(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Scale path for embedding near-dup: sign-random-projection signatures
    * generate candidates, re-scored exactly — the cross join shrinks to
    * colliding buckets, the published SRP-LSH recipe.
    *
    * Candidate rule is the same block-pigeonhole multiprobe the SimHash
    * near-dup uses ([[simhashNearDupPairs]]): the `numPlanes`-bit
    * signature splits into `numBlocks` equal blocks and a pair is a
    * candidate iff ANY block matches exactly. Pigeonhole: signatures
    * within Hamming `numBlocks - 1` of each other MUST agree on at least
    * one block, so recall is structural for low-Hamming pairs — a cos-θ
    * pair disagrees per plane w.p. θ/π — while far pairs share a block
    * rarely (2^-bitsPerBlock per block for random signs). Recall at the
    * boundary is probabilistic, not guaranteed: at the defaults
    * (numPlanes=64, numBlocks=8 → radius 7) a pair at exactly cos = 0.9
    * has expected signature Hamming ≈ 64·acos(0.9)/π ≈ 9.2, outside the
    * guaranteed radius, and its any-block-match probability is only
    * ~93% — pairs just above the threshold can be missed. True
    * near-duplicates (cos ≥ 0.95, Hamming ≈ 0-6) are caught with
    * overwhelming probability; raise `numBlocks` (wider radius, more
    * candidates) when strict near-threshold recall matters — both the
    * ~93% boundary figure and numBlocks=16 recovering ≥95% at cos=0.9
    * are pinned quantitatively in ExtSpec ("SRP block-LSH boundary
    * recall"). Survivors
    * are exact-cosine-verified, so the OUTPUT is hash-independent
    * WHENEVER RECALL HOLDS — the same oracle contract as the MinHash
    * path, with the same boundary caveat.
    *
    * Scale shape: one codegen'd signature pass, a `numBlocks`× map-side
    * explode, one equi-join on (block, value) — never all-pairs. The
    * candidate join carries ONLY id pairs (16 B/row); vectors re-attach
    * by joining the deduped candidates back to the (id, vec) table —
    * small enough to broadcast at any corpus size that fits a dimension
    * table, and two narrow shuffles otherwise. Carrying both vectors
    * through the candidate shuffle (~8·dim bytes per candidate row) was
    * measured 3.6× over linear at a 10× corpus (BENCH_STRESS.json).
    *
    * Bucket-count saturation is the scale dial: bits-per-block =
    * numPlanes/numBlocks bounds distinct bucket values at 2^bits, and
    * per-bucket load — hence candidate volume — grows as n²/2^bits.
    * With the default 8-bit blocks that quadratic term dominates within
    * one decade (a 30× stress probe measured 5.1× over linear at
    * n = 150k; the 10× probe measured ~2 800 candidates per true pair
    * already at n = 20k), so above [[LshBandingCutover]] (4 096) the
    * candidate generator switches to
    * [[embeddingNearDupPairsLshBanded]] — independent narrow signatures
    * (MinHash-banding shape) whose 16-bit bands keep per-bucket load
    * ~n/65536 while matching this path's ~93% boundary recall
    * (1 − (1 − 0.856¹⁶)³² ≈ 0.94). The OUTPUT contract is unchanged by
    * the switch: candidates are exact-cosine-verified either way.
    */
  def embeddingNearDupPairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 64,
      seed: Int = 42,
      // appended AFTER seed so pre-block-multiprobe positional callers
      // (df, id, vec, t, numPlanes, seed) keep their meaning
      numBlocks: Int = 8
  ): DataFrame = {
    import graft.ext.Similarity
    require(numPlanes >= 1 && numPlanes <= 64, "need 1 <= numPlanes <= 64")
    require(
      numBlocks >= 1 && numPlanes % numBlocks == 0,
      s"numBlocks ($numBlocks) must divide numPlanes ($numPlanes)")
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    verifiedPairs(
      base,
      embeddingLshCandidates(df, idCol, vecCol, numPlanes, seed, numBlocks),
      threshold)
  }

  /** The candidate stage of [[embeddingNearDupPairsLsh]] alone — same
    * adaptive geometry selection, same pair dedup, no exact-verify tail.
    * Exposed so the stress harness can price candidate generation
    * separately from verification: OUTPUT pairs grow with the corpus's
    * duplication rate (a data property), while engine work must stay
    * ~linear in `n · probesPerRow + candidates` (see [[lshGeometry]]).
    */
  def embeddingLshCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int = 64,
      seed: Int = 42,
      numBlocks: Int = 8
  ): DataFrame = {
    import graft.ext.Similarity
    require(numPlanes >= 1 && numPlanes <= 64, "need 1 <= numPlanes <= 64")
    require(
      numBlocks >= 1 && numPlanes % numBlocks == 0,
      s"numBlocks ($numBlocks) must divide numPlanes ($numPlanes)")
    val base = widenScan(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")))
    candidatePairs(adaptiveLshProbes(base, numPlanes, seed, numBlocks))
  }

  /** The adaptive probe stage shared by [[embeddingLshCandidates]] and
    * the stress harness's raw-work counter: the id-only count is one
    * cheap columnar pass (the duplicateComponents precedent); past
    * [[LshBandingCutover]] 8-bit block buckets saturate quadratically
    * and banding is the right generator, with the band geometry
    * widening with the corpus ([[lshGeometry]]). */
  private def adaptiveLshProbes(
      base: DataFrame, numPlanes: Int, seed: Int, numBlocks: Int): DataFrame = {
    import graft.ext.Similarity
    val n = base.count()
    if (n > LshBandingCutover) {
      val (bands, bits) = lshGeometry(n)
      return bandedProbes(base, bands, bits, seed)
    }
    val blockBits = numPlanes / numBlocks
    // blockBits == 64 only when numBlocks == 1 (one block = the whole signature)
    val mask = if (blockBits == 64) -1L else (1L << blockBits) - 1L
    val signed = base.withColumn("sig", Similarity.srpBucket(col("v"), numPlanes, seed))
    // posexplode → (block index, block value); the join key is the pair,
    // so block i of one vector never matches block j≠i of another
    signed.select(
      col("id"),
      posexplode(
        array((0 until numBlocks).map(b =>
          shiftrightunsigned(col("sig"), b * blockBits).bitwiseAND(lit(mask))): _*)
      ).as(Seq("block", "bval"))
    )
  }

  /** Candidate geometry the adaptive generator picks at corpus size `n`:
    * (probes per row, bits per probe). Per-row engine work is
    * probes·bits plane projections plus `probes` probe-join rows, so
    * `n · probes` (plus the measured candidate count) is the work
    * denominator the stress artifacts normalize against.
    */
  def lshGeometry(n: Long): (Int, Int) =
    if (n > LshUltraWideBandCutover) (128, 24)
    else if (n > LshWideBandCutover) (64, 20)
    else if (n > LshBandingCutover) (32, 16)
    else (8, 8)

  /** Corpus size past which [[embeddingNearDupPairsLsh]] switches its
    * candidate generator to banding: with 8-bit blocks the expected
    * per-bucket load is n/256 and candidate volume grows quadratically.
    * Measured on the 10× stress corpus (n = 20k) while this cutover
    * still sat at 20 000: 7.29M candidates for 2 610 verified pairs
    * (BENCH_STRESS.json `cand_10x`) — ~2 800 exact-verifies per true
    * pair — versus banding's ~0.1M candidates at the same n. The block
    * path's structural pigeonhole window (Hamming ≤ numBlocks−1
    * GUARANTEED a candidate) is therefore kept only while its quadratic
    * term is genuinely affordable: at 4 096 rows the worst case is
    * 8·4096²/512 ≈ 262k candidates — one narrow shuffle — and every
    * oracle-gated corpus (≤ 2 000 vectors at sf0.1) stays below the
    * cutover, so gate recall remains structural, not probabilistic.
    */
  val LshBandingCutover: Long = 4096L

  /** Corpus size past which the banding geometry widens from 32×16-bit to
    * 64×20-bit bands: random-collision candidate volume is
    * bands·n²/2^(bitsPerBand+1), so 16-bit bands that carry ~5M candidates
    * at n = 150k carry ~61M by n = 500k (quadratic over a fixed 65 536
    * buckets). 20-bit bands hold per-bucket load to n/2²⁰ and cut the
    * 500k candidate volume to ~7.6M, while 64 bands keep boundary recall
    * at cos = 0.9 at 1 − (1 − 0.856²⁰)⁶⁴ ≈ 0.946 — the 32×16 figure.
    * True near-dups (≤0.8% flip/plane) still match any-band essentially
    * surely: 1 − (1 − 0.992²⁰)⁶⁴ ≈ 1 − 0.148⁶⁴. The extra projection
    * cost (1280 planes vs 512) is pure cached-matrix FMAs
    * ([[graft.functions.SrpPlaneWeights]]).
    *
    * Measured honestly: at n = 500k the geometries TIE (100× stress probe:
    * 87.8 s wide vs 85.2 s narrow, both ≈1.5× vs linear, identical 429 841
    * verified pairs) — that corpus's exact-verify of ~430k true pairs
    * dominates both. The rung is for the decade above, where the 16-bit
    * quadratic term must take over (~1B random candidates by n = 2M vs
    * ~30M at 20 bits); 500k is simply the largest corpus the sandbox
    * probes.
    */
  val LshWideBandCutover: Long = 200000L

  /** Corpus size past which the banding geometry widens again, from
    * 64×20-bit to 128×24-bit bands — the next decade's rung on the same
    * ladder: random-collision candidate volume is
    * bands·n²/2^(bitsPerBand+1), so 20-bit bands that carry ~7.6M random
    * candidates at n = 500k carry ~190M by n = 2.5M, while 24 bits hold
    * per-bucket load to n/2²⁴ (~12M at n = 2.5M, 16× less). Boundary
    * recall at cos = 0.9 (flip rate 0.144/plane): per-band match
    * 0.856²⁴ ≈ 0.024, any-of-128 ≈ 0.954 — ABOVE the 64×20 rung's
    * 0.946; true near-dups (≤0.8% flip) match any-band with
    * 1 − (1 − 0.992²⁴)¹²⁸ ≈ 1 − 10⁻¹¹. Projection cost doubles to 3072
    * cached-matrix FMAs/row — map-side, codegen'd.
    *
    * The cutover sits ABOVE the sandbox's largest stress corpus
    * (n = 200k embeddings at the 100× expansion) by design: there the
    * r13-measured wall excess over linear (x_vs_linear 2.29,
    * work-normalized 0.75) is OUTPUT-driven — the stress corpus's
    * duplicate band grows quadratically in Replicas (429 841 true pairs
    * at 100×, each necessarily generated in every matching band before
    * the pair dedup and exact-verified once after it) — not
    * random-collision-driven, so widening bands there was measured a
    * tie (the [[LshWideBandCutover]] note). This rung is for corpora
    * whose RANDOM term dominates again.
    */
  val LshUltraWideBandCutover: Long = 1000000L

  /** SRP banding — the large-corpus candidate generator: `bands`
    * INDEPENDENT `bitsPerBand`-plane signatures (seeded per band), a pair
    * is a candidate iff any band matches exactly — the classic
    * MinHash-banding shape applied to sign-random-projection bits.
    *
    * Versus splitting one 64-bit signature: per-band bucket count is
    * 2^bitsPerBand (65 536 at the default 16) instead of 2^8, so
    * per-bucket load — the quadratic term — shrinks 256×, while recall
    * at a cos-0.9 boundary pair stays ≈ 1 − (1 − (1−0.144)¹⁶)³² ≈ 0.94,
    * the block path's figure. True near-dups (flip rate ≤ 0.8%/plane at
    * cos ≥ 0.9997) match a given band w.p. ≥ 0.88 and any of 32 bands
    * w.p. 1 − 10⁻²⁹ — structural in practice, so the oracle contract
    * (exact-verified, hash-independent whenever recall holds) carries
    * over. Cost: bands·bitsPerBand = 512 plane projections per row
    * (8× the single-signature pass) — map-side, codegen'd, pure
    * fused multiply-adds against the materialized plane matrix
    * ([[graft.functions.SrpPlaneWeights]]; re-hashing per row was the
    * 30× stress bottleneck at 2.6× over linear, 1.15× with the cache) —
    * and bought back ~100× over in candidate-join volume at n ≥ 10⁵.
    */
  def embeddingNearDupPairsLshBanded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bands: Int = 32,
      bitsPerBand: Int = 16,
      seed: Int = 42
  ): DataFrame = {
    require(bands >= 1, s"bands ($bands) must be >= 1")
    require(bitsPerBand >= 1 && bitsPerBand <= 64, "need 1 <= bitsPerBand <= 64")
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    verifiedPairs(base, bandedCandidates(base, bands, bitsPerBand, seed), threshold)
  }

  /** Banded candidate generator over a normalized `(id, v)` frame —
    * `bands` independent `bitsPerBand`-plane signatures, candidate iff
    * any band matches exactly (shared by the banded pair API and the
    * adaptive cutover in [[embeddingLshCandidates]]).
    */
  private def bandedCandidates(
      base: DataFrame, bands: Int, bitsPerBand: Int, seed: Int): DataFrame =
    candidatePairs(bandedProbes(base, bands, bitsPerBand, seed))

  /** Spread a vector frame across the session's cores before a
    * projection-heavy map stage. The banded signature pass is
    * bands·bitsPerBand·dim FMAs per row — pure map-side compute whose
    * parallelism Spark inherits from the INPUT's file splits, so a
    * low-split input (one coalesced parquet file, a single-partition
    * kafka dump) silently serializes it: measured 6.97 s single-file vs
    * 1.46 s at 32 partitions for the same 60k×64-dim corpus. The guard
    * only fires when splits < cores — a production many-split corpus
    * never pays the (linear, vectors-only) balancing shuffle; an
    * explicit numPartitions keeps AQE from re-coalescing the small
    * frame back to one partition.
    */
  private def spreadForProjection(base: DataFrame): DataFrame = {
    val want = base.sparkSession.sparkContext.defaultParallelism
    // consulting .rdd for the split count FINALIZES the adaptive plan —
    // under AQE any upstream shuffle stages execute right there, and
    // that work is not reused by the subsequent projection query (no
    // cross-query exchange reuse) — so only ask the RDD when the
    // lineage is narrow (scan/project/filter/union/checkpoint, where
    // .rdd is pure planning, no job); a shuffling lineage takes the
    // spread unconditionally: one linear vectors-only exchange beats
    // executing its shuffles twice just to read a partition count
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    val shuffling = base.queryExecution.logical.find {
      case _: lp.Aggregate | _: lp.Join | _: lp.Window | _: lp.Sort |
          _: lp.Distinct | _: lp.RepartitionOperation | _: lp.Except |
          _: lp.Intersect => true
      case _ => false
    }.isDefined
    if (shuffling) base.repartition(want)
    else if (base.rdd.getNumPartitions < want) base.repartition(want)
    else base
  }

  private def bandedProbes(
      base: DataFrame, bands: Int, bitsPerBand: Int, seed: Int): DataFrame =
    // one-pass signature row (array element b ≡ srpBucket(v, bits,
    // seed+1+b) bit-for-bit — the SrpBands contract): per-band srpBucket
    // calls re-read the vector and re-enter their own generated loop per
    // band, measured ~11 s per pass at 60k×64-dim under the 32×16
    // geometry — the r14 30× embedding_lsh wall anomaly
    spreadForProjection(base).select(
      col("id"),
      posexplode(GraftFunctions.srp_bands(col("v"), bands, bitsPerBand, seed))
        .as(Seq("block", "bval"))
    )

  /** Shared candidate join for the LSH paths: equi-join on
    * (block/band, value), id pairs only — payloads never ride the
    * candidate shuffle (measured 3.6× over linear when they did).
    */
  private def candidatePairs(probes: DataFrame): DataFrame =
    rawCandidatePairs(probes).dropDuplicates("id_a", "id_b")

  /** [[candidatePairs]] BEFORE the pair dedup — one row per matching
    * (band, pair) occurrence. This is the join's real output volume:
    * a pair matching in m bands costs m shuffled rows (map-side partial
    * aggregation combines them, but they were still generated and
    * hashed), so honest engine-work accounting prices these rows, not
    * just the deduped pair count ([[embeddingLshCandidateRawCount]]).
    */
  private def rawCandidatePairs(probes: DataFrame): DataFrame = {
    // eager localCheckpoint, NOT cache: both self-join sides read the
    // SAME probe frame — unmaterialized, each side recomputes the full
    // projection pass. The frame is (id, block, bval) — 24 bytes/row,
    // n·bands rows — and this is a one-shot library entry point that
    // returns a lazy result, so a cache() here had no release point and
    // pinned a CacheManager entry per call for the life of the session;
    // checkpoint blocks are reference-counted by the ContextCleaner and
    // vanish when the returned frame goes out of scope.
    val p = probes.localCheckpoint(true)
    val l = p.select(col("block"), col("bval"), col("id").as("id_a"))
    val r = p.select(col("block"), col("bval"), col("id").as("id_b"))
    l.join(r, Seq("block", "bval"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** Pre-dedup candidate row count under the SAME adaptive geometry as
    * [[embeddingLshCandidates]] — the stress harness's work denominator
    * term for the banded join stage. A corpus whose planted duplicate
    * band matches in many bands per pair (the expanded stress corpora:
    * quadratic-in-Replicas true pairs × up to `bands` matching bands
    * each) does that work whether or not the deduped pair count shows
    * it. */
  private[graft] def embeddingLshCandidateRawCount(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int = 64,
      seed: Int = 42,
      numBlocks: Int = 8
  ): Long = {
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    rawCandidatePairs(adaptiveLshProbes(base, numPlanes, seed, numBlocks)).count()
  }

  /** Shared exact-verify tail: re-attach vectors to the deduped id pairs
    * and enforce the cosine threshold — the step that makes the output
    * hash-independent whenever candidate recall holds.
    */
  private def verifiedPairs(
      base: DataFrame, candidates: DataFrame, threshold: Double): DataFrame = {
    val vecs = base.select(col("id"), col("v"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", GraftFunctions.cosine_similarity(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  // ---- sub-document (chunk) dedup -----------------------------------------

  /** Chunk-level (passage) dedup: split every document into consecutive
    * `chunkWords`-word chunks, keep a chunk instance only at its FIRST
    * corpus occurrence (minimum (doc_id, chunk_idx)), and report per-doc
    * retention — the boilerplate-removal granularity between exact
    * document dedup and shingle near-dup (the CCNet/RefinedWeb
    * paragraph-dedup shape; this corpus has no paragraph breaks, so the
    * chunker is positional rather than `\n\n`-based — swap the splitter
    * for paragraph boundaries when the corpus carries them).
    *
    * Scale shape: chunks explode map-side (array slice of the word split,
    * no shuffle), first-occurrence is one hash aggregate on the chunk key
    * (partial map-side combine), ownership is one equi-join back on the
    * same key (same partitioning — AQE reuses the exchange), and the
    * per-doc rollup is a hash aggregate on doc_id. No windows, no
    * all-pairs stage; every shuffle key is either the chunk hash or the
    * doc id.
    *
    * Returns (doc_id, n_chunks, n_kept, dup_rate) — dup_rate = share of
    * the doc's chunks already seen earlier in the corpus.
    *
    * `hashKey = true` is the corpus-scale form: the aggregate/join key
    * becomes `xxhash64(chunk)` — an 8-byte shuffle key instead of the
    * full chunk string (≈2 shuffles × chunk bytes saved; a 2⁻⁶⁴
    * collision merging two distinct chunks is far below dedup's noise
    * floor). The oracle-gated query keeps exact string keys; ExtSpec
    * pins parity between the two forms.
    */
  def chunkDedupStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkWords: Int = 10,
      hashKey: Boolean = false
  ): DataFrame = {
    require(chunkWords > 0, "need chunkWords > 0")
    val words = split(trim(col(textCol)), "\\s+")
    val nChunks = ((size(words) + chunkWords - 1) / chunkWords).cast("int")
    val chunk =
      array_join(slice(col("ws"), col("idx") * chunkWords + 1, lit(chunkWords)), " ")
    val exploded = df
      .select(col(idCol).cast("long").as("doc_id"), words.as("ws"), nChunks.as("nc"))
      .select(
        col("doc_id"),
        explode(sequence(lit(0), col("nc") - 1)).as("idx"),
        col("ws"))
      .select(
        col("doc_id"),
        col("idx"),
        (if (hashKey) xxhash64(chunk) else chunk).as("k"))
    val firsts = exploded
      .groupBy("k")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    exploded
      .join(firsts, Seq("k"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum((col("first.doc_id") === col("doc_id") && col("first.idx") === col("idx")).cast("long"))
          .as("n_kept"))
      .withColumn(
        "dup_rate",
        round(lit(1.0) - col("n_kept").cast("double") / col("n_chunks"), 4))
  }

  // ---- incremental (snapshot) dedup ---------------------------------------

  /** Incremental near-dup dedup: screen a NEW batch against the corpus
    * snapshot already ingested, using the portable min-shingle fingerprint
    * ([[TextOps.fingerprintsPortable]]) as the dedup key — the O(batch)
    * admission check a pipeline runs per ingest instead of re-deduping the
    * whole corpus. Statuses per batch doc:
    *   - `dup_snapshot`: fingerprint already present in the snapshot;
    *   - `dup_batch`: first seen inside this batch by a lower doc_id;
    *   - `new`: admitted.
    *
    * Scale shape: the snapshot side reduces to DISTINCT fingerprints (one
    * short string per snapshot doc — in production this is the stored,
    * bucket-partitioned dedup index, so the probe join co-partitions
    * without a snapshot-side shuffle); the batch side is one fingerprint
    * projection, one groupBy(fp) for the within-batch keep-first, and one
    * left join against the index. Work per ingest is O(|batch|) plus the
    * index probe; nothing rescans snapshot text.
    */
  def incrementalDedup(
      snapshot: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5
  ): DataFrame = {
    val snapFps = TextOps
      .fingerprintsPortable(snapshot, idCol, textCol, shingleN)
      .select(col("fp")).distinct()
      .withColumn("in_snap", lit(1))
    val batchFps = TextOps
      .fingerprintsPortable(batch, idCol, textCol, shingleN)
      .select(col("id"), col("fp"))
    val firsts = batchFps.groupBy("fp").agg(min(col("id")).as("first_id"))
    batchFps
      .join(snapFps, Seq("fp"), "left")
      .join(firsts, Seq("fp"))
      .select(
        col("id"),
        when(col("in_snap") === 1, lit("dup_snapshot"))
          .when(col("id") =!= col("first_id"), lit("dup_batch"))
          .otherwise(lit("new"))
          .as("status"))
  }

  // ---- semantic index as a stored artifact ---------------------------------

  /** Marker file inside a persisted semantic-index artifact recording the
    * K it was built with. */
  private def semanticIndexMarker(path: String) = s"$path/_GRAFT_SEMANTIC_INDEX"

  /** Persist a [[semanticIndex]]/[[semanticSeeds]] pair as the stored
    * admission artifact a production pipeline keeps beside the corpus:
    * `path/index` (partitioned by `cluster`, so admission probes prune to
    * touched cells), `path/seeds` (the K-row seed table), and a marker
    * recording K. The marker is what makes the K contract ENFORCEABLE:
    * [[semanticAdmitStored]] `require`s the caller's expected K against
    * it, turning the silently-wrong-cells hazard of a mismatched
    * `numClusters` (see [[semanticAdmit]]'s convenience form) into an
    * immediate error. K is read off the seed table (a count of K rows —
    * sketch-sized, never data-sized).
    */
  def writeSemanticIndex(index: DataFrame, seeds: DataFrame, path: String): Unit = {
    val spark = index.sparkSession
    val k = seeds.count()
    require(k >= 1, "seed table is empty — nothing to persist")
    index.select("id", "v", "cluster")
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/index")
    seeds.write.mode("overwrite").parquet(s"$path/seeds")
    Marker.write(spark, semanticIndexMarker(path), s"semantic_index:k=$k:v1")
  }

  /** Read the stamped K of a [[writeSemanticIndex]] artifact. */
  def semanticIndexK(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    Marker.readOrRefuse(spark, semanticIndexMarker(path))(
      s"no semantic-index marker at $path — the artifact was not written by " +
        "writeSemanticIndex (or predates the K stamp); rebuild it rather than " +
        "guessing K, a mismatch probes wrong cells silently") match {
      case SemanticIndexLayout(k) => k.toInt
      case other =>
        throw new IllegalArgumentException(
          s"unrecognized semantic-index marker '$other' at $path")
    }

  private val SemanticIndexLayout = "semantic_index:k=(\\d+):v1".r

  /** [[semanticAdmit]] against the PERSISTED artifact — the form that
    * closes the K-mismatch hazard: the artifact carries the K it was
    * built with, and a caller declaring a different `expectedClusters`
    * gets an exception instead of admissions probed against wrong cells.
    * Passing `expectedClusters = None` trusts the artifact (the common
    * case — stored seeds carry no K to mismatch; the validation exists
    * for callers whose downstream contract bakes in a specific K).
    */
  def semanticAdmitStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      expectedClusters: Option[Int] = None
  ): DataFrame = {
    val (res, cleanup) =
      semanticAdmitStoredStaged(spark, path, batch, idCol, vecCol, threshold, expectedClusters)
    try res.localCheckpoint(eager = true) finally cleanup()
  }

  /** [[semanticAdmitStored]] in the staged `(lazy result, cleanup)`
    * shape — the per-trigger composition form: the composed ingest
    * pipeline checkpoints the status frame itself at its commit
    * barrier, so the one-shot public form's extra checkpoint would be
    * pure duplicate materialization there.
    */
  private[graft] def semanticAdmitStoredStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      expectedClusters: Option[Int] = None
  ): (DataFrame, () => Unit) = {
    val (index, seeds) = readSemanticIndex(spark, path, expectedClusters)
    semanticAdmitStaged(index, seeds, batch, idCol, vecCol, threshold)
  }

  /** [[semanticProbePhase]] against the PERSISTED artifact — the
    * composed pipeline's speculative probe leg (marker-validated like
    * [[semanticAdmitStored]]).
    */
  private[graft] def semanticProbePhaseStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): (DataFrame, DataFrame, DataFrame, () => Unit) = {
    val (index, seeds) = readSemanticIndex(spark, path, None)
    semanticProbePhase(index, seeds, batch, idCol, vecCol, threshold)
  }

  /** Marker-validated read of the persisted semantic index + seed table. */
  private def readSemanticIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      expectedClusters: Option[Int]): (DataFrame, DataFrame) = {
    val k = semanticIndexK(spark, path)
    expectedClusters.foreach { n =>
      require(n == k,
        s"semantic index at $path was built with K=$k clusters but the caller " +
          s"expects K=$n — admission would assign the batch with different seeds " +
          "than the index's cluster labels and probe wrong cells silently; " +
          "rebuild the index or fix the caller")
    }
    // partition column comes back as the discovery type — restore the
    // long the in-memory form carries so downstream unions line up
    val index = spark.read.parquet(s"$path/index")
      .withColumn("cluster", col("cluster").cast("long"))
    val seeds = spark.read.parquet(s"$path/seeds")
    (index, seeds)
  }

  // ---- winnowing fingerprint index as a stored artifact ---------------------

  private def winnowIndexMarker(path: String) = s"$path/_GRAFT_WINNOW_INDEX"

  /** Persist the fingerprint-posting index behind ingestion-time
    * winnowing near-dup admission: the corpus's (fp, id) winnowing
    * postings ([[winnowingPostings]]), written `partitionBy` a
    * fingerprint-hash bucket (`fb = pmod(xxhash64(fp), buckets)`) so
    * [[winnowAdmitStored]] prunes each probe to the batch's touched
    * buckets — the substring-gram-store discipline. Fingerprints whose
    * corpus document frequency exceeds `maxDf` are dropped AT BUILD:
    * they are non-discriminative boilerplate that generates quadratic
    * probe candidates and no signal (the df band of
    * [[winnowingNearDupPairs]], applied index-side; df = 1 fingerprints
    * STAY — a batch doc matching a unique stored fingerprint is exactly
    * the admission signal). Every layout parameter is stamped in a
    * marker and re-validated on probe: w/windowSize/hash change
    * fingerprint identity, buckets changes placement, maxDf changes the
    * candidate contract — drift is a hard error, never a silent
    * wrong-admission.
    */
  def writeWinnowIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      w: Int = 5,
      windowSize: Int = 4,
      maxDf: Long = 8L,
      buckets: Int = 64,
      portable: Boolean = false
  ): Unit = {
    require(buckets >= 1, "need buckets >= 1")
    require(maxDf >= 2, "need maxDf >= 2 — pairs need fingerprints in at least 2 docs")
    val spark = docs.sparkSession
    // corpus-sized build — scan-widened ([[widenScan]]). Cached: the
    // fingerprint kernel is the build's expensive pass and the plan
    // below consumes it three times (df aggregate, the keep semi-join's
    // scan side, and the hot-set aggregate) — uncached, the kernel runs
    // three times per build (the internal-cache discipline of the other
    // multi-scan dedup builds; MEMORY_AND_DISK spills gracefully on a
    // corpus-sized build)
    val posts = winnowingPostings(
      widenScan(docs.select(col(idCol), col(textCol))), idCol, textCol, w, windowSize, portable)
      .cache()
    try {
      // ONE df aggregate feeds both the keep filter and the hot set
      // (previously computed twice)
      val dfAgg = posts.groupBy("fp").agg(count(lit(1)).as("df"))
      val keep = dfAgg.where(col("df") <= maxDf).select("fp")
      // one file per bucket dir: clustered by fb so a write task owns whole
      // buckets instead of fanning small files across every partition
      posts
        .join(keep, Seq("fp"), "left_semi")
        .withColumn("fb", pmod(xxhash64(col("fp")), lit(buckets)).cast("int"))
        .repartition(buckets, col("fb"))
        .write.mode("overwrite").partitionBy("fb").parquet(s"$path/posts")
      // the fingerprints the build DROPPED as boilerplate (df > maxDf),
      // persisted beside the postings: [[appendWinnowIndex]] filters new
      // postings against this set and [[winnowAdmitStored]] excludes it at
      // probe, so a fingerprint hot at build time can never re-admit
      // through appended postings (whose store-side count alone would look
      // cold). Bucketed like the postings so probes prune identically;
      // boilerplate-fp-sized, usually tiny.
      dfAgg
        .where(col("df") > maxDf)
        .select(col("fp"), pmod(xxhash64(col("fp")), lit(buckets)).cast("int").as("fb"))
        .repartition(buckets, col("fb"))
        .write.mode("overwrite").partitionBy("fb").parquet(s"$path/hot")
    } finally { posts.unpersist(); () }
    val h = if (portable) "md5" else "xx"
    // h=xx:v1 fingerprints are defined by the STAGED contract — w-word
    // xxhash64 shingles over split(trim(text), "\s+") tokens (empty
    // edge tokens included), window-min selection. The native
    // WinnowedFingerprints pass is spec-pinned bit-identical to that
    // definition (ExtSpec, incl. edge-whitespace corners), so stores
    // stamped v1 remain valid across the Column-form → native swap.
    Marker.write(spark, winnowIndexMarker(path),
      s"winnow_index:w=$w:ws=$windowSize:maxdf=$maxDf:b=$buckets:h=$h:v1")
  }

  /** Read and parse the stamped layout of a [[writeWinnowIndex]]
    * artifact: (w, windowSize, maxDf, buckets, portable).
    */
  def winnowIndexLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): (Int, Int, Long, Int, Boolean) = {
    val re = """winnow_index:w=(\d+):ws=(\d+):maxdf=(\d+):b=(\d+):h=(md5|xx):v1""".r
    Marker.readOrRefuse(spark, winnowIndexMarker(path))(
      s"no winnowing-index marker at $path — the artifact was not written by " +
        "writeWinnowIndex; rebuild it rather than guessing the layout, a " +
        "mismatched w/window/bucket count probes wrong fingerprints silently") match {
      case re(w, ws, maxDf, b, h) =>
        (w.toInt, ws.toInt, maxDf.toLong, b.toInt, h == "md5")
      case other =>
        throw new IllegalArgumentException(
          s"unrecognized winnowing-index marker '$other' at $path")
    }
  }

  /** Advance a [[writeWinnowIndex]] artifact by ONE BATCH of documents
    * — the O(batch) batch-pipeline form of the index append the
    * streaming maintainer performs per trigger
    * ([[graft.streaming.CdcStream.winnowAdmitMaintain]]), so an
    * admit-then-append loop never pays a O(corpus) rebuild between
    * batches. The batch's postings (computed under the artifact's own
    * stamped layout — never caller-supplied parameters) are filtered
    * against the persisted build-hot fingerprint set and APPENDED to
    * their fb partitions; nothing existing is rewritten.
    *
    * df-cap semantics across appends (ExtSpec-pinned): the build drops
    * hot fingerprints physically; appends cannot re-count global df, so
    * a fingerprint that turns hot only AFTER build keeps its postings
    * in the store and [[winnowAdmitStored]] excludes it at probe by the
    * cumulative count of the very rows it reads — probe decisions equal
    * a one-shot [[writeWinnowIndex]] over the union corpus. A periodic
    * rebuild remains the physical re-drop that reclaims the hot
    * fingerprints' storage.
    *
    * Caller contract: each document id is appended at most once (the
    * admission loop appends a batch after screening it, and ids are
    * unique across batches — the maintainer's own invariant).
    *
    * CRASH RETRY: pass a caller-stable `appendId` (the admission loop's
    * own batch sequence number) and the append becomes IDEMPOTENT — the
    * batch's postings land in their own `aseq=<appendId>` partition of a
    * sibling `apost` table (mode overwrite, the streaming maintainer's
    * own-partition discipline), so a crashed-then-retried append
    * replaces its partition instead of double-writing `(id, fp)` rows
    * into the shared `posts` dirs. Duplicated rows are not benign: the
    * probe-side cumulative df cap counts posting ROWS per fingerprint,
    * so a double-write can push a fingerprint past `maxDf` and flip a
    * real duplicate to `new`. Without `appendId` the legacy blind
    * append is kept for single-shot callers — but then a failed append
    * requires a [[writeWinnowIndex]] rebuild, never a retry.
    *
    * DIRECTORY RECLAIM: idempotent appends accumulate one
    * `apost/aseq=<id>` partition each, regrowing the per-append listing
    * cost on every probe.
    * [[graft.streaming.CdcStream.compactWinnowAppendStore]] folds
    * `aseq ≤ upToSeq` into one partition between appends (probe-
    * invisible — the probe reads apost as a bag); a periodic
    * [[writeWinnowIndex]] rebuild is the heavier reclaim that also
    * re-drops hot fingerprints physically.
    */
  def appendWinnowIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      appendId: Long = -1L
  ): Unit = {
    import org.apache.spark.sql.types._
    val (w, windowSize, _, buckets, portable) = winnowIndexLayout(spark, path)
    val fpType: DataType = if (portable) StringType else LongType
    val posts = winnowingPostings(batch, idCol, textCol, w, windowSize, portable)
      .withColumn("fb", pmod(xxhash64(col("fp")), lit(buckets)).cast("int"))
    val hotDir = new org.apache.hadoop.fs.Path(s"$path/hot")
    val fs = hotDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kept =
      if (fs.exists(hotDir)) {
        val hot = spark.read.schema(StructType(Seq(
          StructField("fp", fpType), StructField("fb", IntegerType)))).parquet(s"$path/hot")
        posts.join(hot.select("fp"), Seq("fp"), "left_anti")
      } else posts
    // clustered by fb (the build's fan-out rule): one new file per
    // touched bucket dir per append, not tasks × buckets
    val clustered = kept.select("id", "fp", "fb").repartition(buckets, col("fb"))
    if (appendId >= 0L)
      clustered.write.mode("overwrite").partitionBy("fb")
        .parquet(s"$path/apost/aseq=$appendId")
    else
      clustered.write.mode("append").partitionBy("fb").parquet(s"$path/posts")
    ()
  }

  /** Ingestion-time winnowing near-dup admission against the PERSISTED
    * index — the fuzzy-text member of the admission matrix (exact
    * spans: substring gram store; embeddings: [[semanticAdmitStored]];
    * perceptual 64-bit sketches: [[hammingAdmitBanded]]). An arriving
    * batch computes its winnowing postings ONCE (staged, O(tokens · w)
    * per doc) and uses them for both stages:
    *
    *  - `dup_snapshot`: some STORED doc shares ≥ `minShared` selected
    *    fingerprints with the batch doc. The probe reads only the fb
    *    partitions the batch's fingerprints hash into (bounded collect
    *    of ≤ buckets ids — the substring-store pruning) and every probed
    *    fingerprint carries ≤ maxDf stored postings by construction, so
    *    candidate fan-out is bounded per batch posting — never a
    *    whole-index scan or an unbounded hot-key join.
    *  - `dup_batch`: no stored match, but an EARLIER batch doc (smaller
    *    id) pairs with it under [[winnowingNearDupPairs]]' in-batch df
    *    band (df ∈ [2, maxDf] within the batch scope).
    *  - `new`: neither.
    *
    * The two df scopes (index-side cap at build, batch-side band at
    * probe) are the honest streaming form: a global df over
    * index ∪ batch would require re-counting the full index per
    * trigger. After admission the index advances O(batch) via
    * [[appendWinnowIndex]] (postings appended to their fb partitions —
    * no rebuild), and the probe-side cumulative df cap below keeps
    * append-advanced stores probe-equivalent to a one-shot rebuild.
    *
    * Output: (id, status) — one row per batch doc.
    */
  def winnowAdmitStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Int = 3
  ): DataFrame = {
    // eager-materialize + release (the semanticAdmit convention): the
    // status frame is one small row per batch doc; checkpointing it
    // here lets the multi-scanned fingerprint cache be unpersisted
    // before returning instead of leaking a CacheManager entry per
    // admission call
    val (res, cleanup) =
      winnowAdmitStoredStaged(spark, path, batch, idCol, textCol, minShared)
    try res.localCheckpoint(eager = true) finally cleanup()
  }

  /** [[winnowAdmitStored]] in the staged `(lazy result, cleanup)` shape
    * for callers that compose the probe into their own barrier.
    */
  private[graft] def winnowAdmitStoredStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Int = 3
  ): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.types._
    require(minShared >= 1, "need minShared >= 1")
    val (w, windowSize, maxDf, buckets, portable) = winnowIndexLayout(spark, path)
    // cache: the probe plan scans the batch's fingerprint frame ~7 times
    // (touched-bucket collect, prior semi-join, snapshot hit, in-batch
    // band df, band self-join twice, final status join) — uncached,
    // each scan recomputes the explode + window-min fingerprint pass
    // (the in-file .cache() convention; the streamed twin
    // winnowAdmitApplyBatchStaged already caches its posts)
    val posts = winnowingPostings(batch, idCol, textCol, w, windowSize, portable).cache()
    val fpType: DataType = if (portable) StringType else LongType
    val storeSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("fp", fpType),
      StructField("fb", IntegerType)))
    val touched = posts
      .select(pmod(xxhash64(col("fp")), lit(buckets)).cast("int").as("fb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // the store is posts ∪ apost: apost holds the idempotent
    // per-appendId partitions of [[appendWinnowIndex]] retries (its
    // extra aseq partition column is projected away); both sides carry
    // the fb partition axis, so the touched-bucket pruning below pushes
    // into each scan
    val postsDf = spark.read.schema(storeSchema).parquet(s"$path/posts")
      .select("id", "fp", "fb")
    val apostDir = new org.apache.hadoop.fs.Path(s"$path/apost")
    val apostFs = apostDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store =
      if (apostFs.exists(apostDir))
        postsDf.unionByName(
          spark.read.schema(storeSchema).parquet(s"$path/apost")
            .select("id", "fp", "fb"))
      else postsDf
    val idx =
      if (touched.isEmpty) store.select(col("id").as("a_id"), col("fp")).limit(0)
      else store.where(col("fb").isin(touched: _*)).select(col("id").as("a_id"), col("fp"))
    // the df cap, enforced at PROBE time over the rows already read (a
    // per-fp count on the probed postings — no extra scan): a pure
    // writeWinnowIndex artifact never trips it (the build already
    // dropped hot fingerprints), but an [[appendWinnowIndex]]-advanced
    // store accumulates postings past maxDf for fingerprints that turn
    // hot AFTER build, and excluding them here is exactly what a
    // one-shot rebuild's build-side cap would have done — so
    // admit-then-append stays probe-equivalent to rebuild-over-union.
    // Fingerprints hot at BUILD time (postings absent, count invisible)
    // come from the persisted hot set instead.
    // CACHED: prior has two consumers (the hot-count aggregate and the
    // snapshot-pairing join) — without the cache each planned its own
    // full semi-scan of the touched store buckets, reading the store's
    // bytes twice per probe (rows are bounded by the store postings
    // matching the batch's fingerprints; released with the stage cleanup)
    val prior = idx.join(posts.select("fp").distinct(), Seq("fp"), "left_semi")
      .persist()
    val hotDir = new org.apache.hadoop.fs.Path(s"$path/hot")
    val hotFs = hotDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hotStored =
      if (!hotFs.exists(hotDir)) None
      else {
        val hs = spark.read.schema(StructType(Seq(
          StructField("fp", fpType), StructField("fb", IntegerType)))).parquet(s"$path/hot")
        Some(if (touched.isEmpty) hs.select("fp").limit(0)
          else hs.where(col("fb").isin(touched: _*)).select("fp"))
      }
    val res = winnowStatuses(batch, idCol, posts, prior, minShared, maxDf, hotStored)
    (res, () => { prior.unpersist(); posts.unpersist(); () })
  }

  /** The winnowing admission statuses of a batch — the one derivation
    * behind [[winnowAdmitStored]] and the streamed
    * [[graft.streaming.CdcStream.winnowAdmitMaintain]]. `posts` are the
    * batch's `(id, fp)` postings, `prior` the stored `(fp, a_id)`
    * postings sharing a fingerprint with them.
    *
    *  - hot fingerprints (more than `maxDf` prior postings — the
    *    cumulative df cap — plus any `storedHot` set) never pair;
    *  - `dup_snapshot`: some stored doc shares ≥ `minShared` of the
    *    remaining fingerprints;
    *  - `dup_batch`: an EARLIER batch doc (smaller id) shares
    *    ≥ `minShared` fingerprints inside the in-batch df band
    *    [2, maxDf];
    *  - `new`: neither.
    *
    * `hint` wraps every batch-derived join side: the streamed stage's
    * micro-batch broadcast hints (its pairing side is bounded by maxDf
    * rows per batch fingerprint while its STATIC estimate derives from
    * the store's file size, so without the hint the planner sort-merges
    * what a materialized input would have broadcast).
    */
  private[graft] def winnowStatuses(
      batch: DataFrame,
      idCol: String,
      posts: DataFrame,
      prior: DataFrame,
      minShared: Int,
      maxDf: Long,
      storedHot: Option[DataFrame] = None,
      hint: DataFrame => DataFrame = identity): DataFrame = {
    val hotByCount = prior.groupBy("fp").agg(count(lit(1)).as("n"))
      .where(col("n") > maxDf).select("fp")
    val hot = storedHot.fold(hotByCount)(hotByCount.unionByName(_).distinct())
    val snapHit = posts
      .join(hint(prior.join(hint(hot), Seq("fp"), "left_anti")), Seq("fp"))
      .groupBy("id", "a_id").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .select("id").distinct()
      .withColumn("__snap", lit(true))
    val band = posts.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDf).select("fp")
    val pb = posts.join(hint(band), Seq("fp"), "left_semi")
    val batchHit = pb.select(col("id").as("id_a"), col("fp"))
      .join(hint(pb.select(col("id").as("id_b"), col("fp"))), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .select(col("id_b").as("id")).distinct()
      .withColumn("__batch", lit(true))
    batch
      .select(col(idCol).cast("long").as("id"))
      .join(hint(snapHit), Seq("id"), "left_outer")
      .join(hint(batchHit), Seq("id"), "left_outer")
      .select(
        col("id"),
        when(col("__snap"), lit("dup_snapshot"))
          .when(col("__batch"), lit("dup_batch"))
          .otherwise(lit("new"))
          .as("status"))
  }
}
