package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.Overlap
import graft.streaming.Marker

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword n-gram heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting.
  *
  * All column-level and codegen-friendly: pure `functions._` expressions,
  * no UDFs, so every op rides inside WholeStageCodegen and scales as a
  * map-only pass over the corpus.
  */
object TextOps {

  // ---- token counting ------------------------------------------------------

  /** Whitespace token count. Empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: words, numbers, and single punctuation marks as
    * separate tokens (a GPT-2-style pre-tokenizer regex, counted not
    * materialized).
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  // ---- quality scoring -----------------------------------------------------

  private val EnglishStopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** Occurrence count of stopwords — native [[graft.functions.CountInSet]]
    * (codegen'd hash-set probe per word; identical semantics to the
    * interpreted `size(filter(words, isInCollection))` form it replaces).
    * The session must have called GraftFunctions.register (all graft query
    * entry points do).
    */
  def stopwordCount(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val words = split(lower(trim(text)), "\\s+")
    graft.functions.GraftFunctions.count_in_set(words, stopwords)
  }

  /** Composite quality score in [0,1]: length band + punctuation ratio +
    * stopword ratio + mean word length band (the C4/Gopher-style cheap
    * heuristics family).
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text)
    val nTokens = tokenCount(text)
    val meanWordLen = when(nTokens > 0, nChars.cast("double") / nTokens).otherwise(0.0)
    val punct = nChars - length(regexp_replace(text, "[\\p{Punct}]", ""))
    val punctRatio = when(nChars > 0, punct.cast("double") / nChars).otherwise(1.0)
    val stopRatio = when(nTokens > 0, stopwordCount(text).cast("double") / nTokens).otherwise(0.0)
    val lengthScore = when(nTokens.between(10, 5000), 1.0)
      .when(nTokens.between(3, 9), 0.5)
      .otherwise(0.0)
    val wordLenScore = when(meanWordLen.between(2.0, 12.0), 1.0).otherwise(0.0)
    val punctScore = when(punctRatio <= 0.2, 1.0).when(punctRatio <= 0.4, 0.5).otherwise(0.0)
    val stopScore = when(stopRatio >= 0.01, 1.0).otherwise(0.5)
    round((lengthScore + wordLenScore + punctScore + stopScore) / 4.0, 4)
  }

  /** Percentile-threshold quality binning — the curriculum/filter cut a
    * pipeline applies after scoring. The naive form is `ntile(n) OVER
    * (ORDER BY quality)`, which funnels the whole corpus through ONE task;
    * here the bin edges come from one tiny exact-percentile aggregate
    * (partial agg, n-1 doubles to the driver) and the binning itself is a
    * pure map-side literal fold — no window, no extra shuffle, valid at any
    * corpus size. `bin` = number of thresholds ≤ the doc's quality
    * (0..n-1), so equal scores always share a bin in any engine — unlike
    * ntile, which splits ties by arbitrary row order. Thresholds are
    * rounded to 4 decimals (the score's own grain) so the >= comparisons
    * are ulp-robust across engines.
    */
  def qualityBins(df: DataFrame, idCol: String, textCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "need nBins >= 2")
    val scored = df.select(
      col(idCol).cast("long").as("id"),
      qualityScore(col(textCol)).as("quality"))
    val ps = (1 until nBins).map(p => s"${p.toDouble / nBins}d").mkString("array(", ", ", ")")
    val raw = scored.agg(expr(s"percentile(quality, $ps)").as("t")).head().getSeq[Double](0)
    val thresholds = raw.map(t => BigDecimal(t).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val bin = thresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col("quality") >= lit(t), 1).otherwise(0)
    }
    scored.select(col("id"), col("quality"), bin.cast("int").as("bin"))
  }

  // ---- language identification --------------------------------------------

  /** Tiny per-language marker lexicons. Real systems use char n-gram models
    * (TextCat family); the engine keeps the same shape — score per language,
    * argmax — with word-marker scoring that is exactly expressible in both
    * Spark and an SQL oracle.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "for"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est"),
    "es" -> Seq("el", "los", "las", "una", "es", "para", "con"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "ein"),
    "zh" -> Seq("的", "是", "和", "在", "了", "有", "不")
  )

  /** Heuristic language ID: argmax over marker-hit counts; ties and
    * zero-evidence fall back to "und". Deterministic tie-break by language
    * code order of LangMarkers.
    */
  def langId(text: Column): Column = {
    val words = split(lower(trim(text)), "\\s+")
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> graft.functions.GraftFunctions.count_in_set(words, markers)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Canonical text normalization for exact-dedup keys: lowercase, strip
    * punctuation, collapse whitespace runs, trim — the cheap first pass
    * before hashing (see Dedup.contentHash).
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[\\p{Punct}]", " "), "\\s+", " "))

  // ---- repetition metrics --------------------------------------------------

  /** Gopher-style repetition signals, computed per document in one
    * zero-shuffle map pass:
    *   - `n_words`, `n_distinct_words` and `dup_word_frac`
    *     (1 − distinct/total — high values mean heavy word repetition);
    *   - `top_bigram_n` / `top_bigram_frac`: occurrences of the most
    *     frequent word 2-gram over total 2-grams (the "fraction of
    *     characters in the most common n-gram" family of repetition
    *     filters, on word bigrams).
    * The bigram mode count runs through the native
    * [[graft.functions.TopShingleCount]] (one tokenize + hash-count pass
    * per row) rather than the `transform(distinct, x → size(filter(…)))`
    * composition, whose O(bigrams²) interpreted lambda frames dominated
    * the scan. Empty text scores 0 everywhere; a 1-word doc has no
    * bigrams.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val ws = split(trim(col(textCol)), "\\s+")
    val nWords = when(length(trim(col(textCol))) === 0, lit(0)).otherwise(size(ws))
    df.select(
        col(idCol).cast("long").as("doc_id"),
        nWords.as("n_words"),
        size(array_distinct(ws)).as("n_distinct_raw"),
        graft.functions.GraftFunctions.top_shingle_count(col(textCol), 2).as("top_raw"))
      .select(
        col("doc_id"),
        col("n_words"),
        when(col("n_words") === 0, lit(0)).otherwise(col("n_distinct_raw")).as("n_distinct_words"),
        when(col("n_words") === 0, lit(0.0))
          .otherwise(round(lit(1.0) - col("n_distinct_raw").cast("double") / col("n_words"), 4))
          .as("dup_word_frac"),
        when(col("n_words") < 2, lit(0)).otherwise(col("top_raw")).as("top_bigram_n"))
      .withColumn(
        "top_bigram_frac",
        when(col("n_words") < 2, lit(0.0))
          .otherwise(round(col("top_bigram_n").cast("double") / (col("n_words") - 1), 4)))
  }

  // ---- corpus-statistics scoring -------------------------------------------

  /** Unigram-frequency document scoring: each token is weighted by its
    * corpus-wide occurrence count and every doc gets (sum, mean) of those
    * weights — the integer-exact core of unigram-LM scoring (CCNet-style
    * perplexity filtering ranks docs by mean token log-probability; the
    * mean corpus frequency is the same ordering signal computed without
    * transcendentals, so the SQL oracle reproduces it bit-for-bit:
    * long sums are order-insensitive where double log-sums are not).
    *
    * Scale shape: the vocabulary is a hash aggregate over exploded tokens
    * (map-side combine); the weight lookup is an equi-join on the token —
    * at corpus scale the vocabulary is Zipf-bounded and a min-df cut keeps
    * the build side broadcastable; the per-doc rollup is a hash aggregate
    * on doc_id. No windows, no driver loops.
    */
  def unigramScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(
      col(idCol).cast("long").as("doc_id"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    toks
      .join(vocab, Seq("token"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("tf")).as("sum_tf"))
      .withColumn("mean_tf", round(col("sum_tf").cast("double") / col("n_tokens"), 4))
  }

  // ---- source mixing -------------------------------------------------------

  /** Deterministic source mixing: downsample strata so the kept corpus
    * approaches the target weight proportions at maximum volume — the
    * data-mixing pass that turns "20 crawl sources" into "the mix the
    * training run wants". For target weight w_s and stratum size n_s, the
    * densest achievable total is T = min_s(n_s / w_s) draws per unit
    * weight; each stratum keeps `frac_s = min(1, w_s · T / n_s)` of its
    * rows via the same md5 Bernoulli decision as [[hashKeep]] (reproducible
    * across runs and engines, independent per salt). Strata absent from
    * `weights` are dropped.
    *
    * The stratum sizes come from one tiny count aggregate (|strata| rows
    * on the driver — 20 sources, not 20 billion rows); the filter itself
    * is a broadcast-joined map-side predicate: no corpus shuffle at any
    * scale. Threshold arithmetic is pinned to `trunc(frac × 65536)` on the
    * raw double so the SQL oracle reproduces the exact same hex cutoffs.
    */
  def mixToWeights(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weights: Map[String, Double],
      salt: String
  ): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0), "need positive weights")
    // null strata can never match a weight key (and would NPE the count
    // collect) — they are dropped, like any stratum absent from `weights`
    val counts = df.where(col(strataCol).isNotNull)
      .groupBy(col(strataCol).as("stratum")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = weights.filter { case (s, _) => counts.contains(s) }
    require(present.nonEmpty, "no weighted stratum present in the data")
    val t = present.map { case (s, w) => counts(s) / w }.min
    val thresholds = present.toSeq.map { case (s, w) =>
      val frac = math.min(1.0, w * t / counts(s))
      (s, (frac * 65536).toInt)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val thrDf = broadcast(thresholds.toDF("stratum", "thr_int"))
    val h = substring(md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), 1, 4)
    // null ids are dropped (not hashed): concat_ws would silently skip the
    // null and hash the salt alone, where the SQL oracle's `salt || NULL`
    // predicate is NULL-excluded — requiring a non-null id keeps the two
    // engines' keep-decisions identical
    df.where(col(idCol).isNotNull)
      .join(thrDf, col(strataCol) === col("stratum"))
      .where(col("thr_int") >= 65536 || h < format_string("%04x", col("thr_int")))
      .drop("stratum", "thr_int")
  }

  // ---- fingerprinting ------------------------------------------------------

  /** Rolling-hash document fingerprint: xxhash64 over each word w-shingle,
    * keep the minimum (a 1-hash MinHash — stable under small edits at
    * document tails, the winnowing-style selection).
    */
  def fingerprint(text: Column, w: Int = 5): Column =
    array_min(transform(Dedup.wordShingles(text, w), s => xxhash64(s)))

  /** (id, fp) via the native one-pass shingler + fused per-element hash —
    * identical values to [[fingerprint]] (same xxhash64 seed), none of the
    * interpreted-lambda cost.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String, w: Int = 5): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(df.sparkSession)
    df.select(
      col(idCol).cast("long").as("id"),
      array_min(GraftFunctions.hashed_array(GraftFunctions.word_shingles(col(textCol), w))).as("fp")
    )
  }

  /** Portable min-fingerprint: the same shingle→hash→min selection as
    * [[fingerprints]], through md5 — a hash with an exact SQL twin
    * (identical lowercase hex in Spark and DuckDB, min = lexicographic on
    * ASCII hex in both), which is what lets the fingerprint gate query
    * carry a full value oracle. xxhash64 stays the production fingerprint
    * (8-byte payload, codegen'd, no hex materialization); this portable
    * form proves the pipeline end to end against an independent engine.
    */
  def fingerprintPortable(text: Column, w: Int = 5): Column =
    array_min(transform(Dedup.wordShingles(text, w), s => md5(s)))

  /** (id, fp, n_shingles) portable-fingerprint projection via the native
    * one-pass shingler (the built-in composition in [[fingerprintPortable]]
    * is interpreted per position — 10× slower at sf0.1; WordShingles parity
    * has its own ExtSpec test). This is the gate-query entry point.
    */
  def fingerprintsPortable(df: DataFrame, idCol: String, textCol: String, w: Int = 5): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).cast("long").as("id"), GraftFunctions.word_shingles(col(textCol), w).as("shingles"))
      .select(
        col("id"),
        array_min(transform(col("shingles"), m => md5(m))).as("fp"),
        size(col("shingles")).as("n_shingles"))
  }

  /** Winnowing fingerprint set: per window of `windowSize` consecutive
    * shingle hashes keep the min, collect distinct — the Schleimer et al.
    * winnowing scheme, as an array column.
    *
    * Single-doc/test convenience ONLY: the shingle-hash array is
    * captured inside the window-min lambda and Catalyst re-evaluates a
    * captured expression on every lambda invocation — O(tokens² · hash)
    * per document. The corpus-scale pair join goes through
    * [[graft.ext.Dedup.winnowingPostings]], which stages each array as
    * a projection attribute (same output, O(tokens · w)).
    */
  def winnowingFingerprints(text: Column, w: Int = 5, windowSize: Int = 4): Column = {
    val words = split(trim(text), "\\s+")
    val shingles = transform(
      sequence(lit(0), greatest(size(words) - w, lit(0))),
      i => xxhash64(concat_ws(" ", slice(words, i + 1, lit(w))))
    )
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(shingles) - windowSize, lit(0))),
        i => array_min(slice(shingles, i + 1, lit(windowSize)))
      )
    )
  }

  // ---- deterministic corpus split -----------------------------------------

  /** Deterministic train/val/test assignment: md5 of (salt, key) → first
    * 16 bits as a hex prefix compared against the cumulative fraction
    * thresholds. Hash-based rather than modulo-id so the split is stable
    * under re-ingestion order, uncorrelated with id assignment, and
    * re-derivable anywhere (md5 hex is portable to the SQL oracle; fixed-
    * width lowercase hex compares identically — lexicographic = numeric).
    * Changing `salt` draws an independent split; leakage granularity is
    * whatever `key` identifies (use a dedup-cluster representative as the
    * key to keep near-duplicates on one side of the split).
    */
  def hashSplit(key: Column, salt: String, trainFrac: Double, valFrac: Double): Column = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      "need 0 < trainFrac, 0 <= valFrac, trainFrac + valFrac < 1")
    def hexThreshold(f: Double): String = f"${(f * 65536).toInt}%04x"
    val h = substring(md5(concat_ws(":", lit(salt), key.cast("string"))), 1, 4)
    when(h < lit(hexThreshold(trainFrac)), lit("train"))
      .when(h < lit(hexThreshold(trainFrac + valFrac)), lit("val"))
      .otherwise(lit("test"))
  }

  /** Deterministic Bernoulli keep-decision at rate `frac`: md5(salt:key)'s
    * first 16 bits compared against the rate threshold — the sampling twin
    * of [[hashSplit]]. Hash-based rather than `rand()` so a sample is
    * reproducible across runs/engines (exactly re-derivable in the SQL
    * oracle), stable under re-ingestion order, and composable: different
    * salts draw independent samples, and per-stratum rates are just this
    * predicate under a CASE on the stratum column (corpus rebalancing —
    * downsample the dominant language/source without touching the rest).
    * At scale it is a map-side filter: no shuffle, no state, pushes past
    * nothing it shouldn't.
    */
  def hashKeep(key: Column, salt: String, frac: Double): Column = {
    require(frac >= 0, "need frac >= 0")
    if (frac >= 1.0) lit(true)
    else {
      val thr = f"${(frac * 65536).toInt}%04x"
      substring(md5(concat_ws(":", lit(salt), key.cast("string"))), 1, 4) < lit(thr)
    }
  }

  /** Canonicalize a URL for crawl-side dedup — the normalization a
    * fetch/dedup frontier applies so trivially-distinct spellings of one
    * resource collapse to one key before any content fetch:
    *
    *   1. scheme and host lowercase;
    *   2. default ports stripped (`:80` for http, `:443` for https);
    *   3. fragment dropped (never sent to the server);
    *   4. tracking parameters dropped (`utm_*`, `gclid=`, `fbclid=`);
    *   5. remaining query parameters sorted (param order is almost never
    *      semantic; sorting makes `?a=1&b=2` ≡ `?b=2&a=1`);
    *   6. path: trailing slashes trimmed, empty path → `/`.
    *
    * Pure codegen'd built-ins (regexp_extract / filter / array_sort /
    * concat) in ONE projection — canonicalizing a 100 TB URL frontier is
    * a map-only scan, and the rule set is exactly re-derivable in the SQL
    * oracle (no engine URL parser, whose edge-case behavior would differ).
    * Non-URL strings (no `scheme://`) pass through lowercased-scheme-free
    * unchanged. Null-safe.
    */
  def canonicalUrl(url: Column): Column = {
    val u = url
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = when(scheme === "http" && hostPort.endsWith(":80"),
        hostPort.substr(lit(1), length(hostPort) - 3))
      .when(scheme === "https" && hostPort.endsWith(":443"),
        hostPort.substr(lit(1), length(hostPort) - 4))
      .otherwise(hostPort)
    val rawPath = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(length(rtrim(rawPath, "/")) === 0, lit("/"))
      .otherwise(rtrim(rawPath, "/"))
    val rawQuery = regexp_extract(u, "\\?([^#]*)", 1)
    val keptParams = filter(
      split(rawQuery, "&"),
      p => length(p) > 0 && !p.startsWith("utm_") &&
        !p.startsWith("gclid=") && !p.startsWith("fbclid="))
    val query = array_join(array_sort(keptParams), "&")
    when(u.isNull, lit(null).cast("string"))
      .when(scheme === "", u)
      .otherwise(concat(
        scheme, lit("://"), host, path,
        when(length(query) > 0, concat(lit("?"), query)).otherwise(lit(""))))
  }

  /** Deterministic weighted sample WITHOUT replacement, n per stratum —
    * the corpus-rebalancing step a mixture pipeline runs when "keep
    * fraction f" ([[hashKeep]]) is too blunt and inclusion odds must
    * scale with a per-document weight (quality tier, source priority,
    * dedup-cluster mass).
    *
    * Algorithm: Efraimidis & Spirakis A-ES in its integer-weight
    * MAX-UNIFORM form. A-ES ranks items by `u^(1/w)` (u uniform) and
    * takes the top n; for integer w, `u^(1/w)` is distributed as the MAX
    * of w independent uniforms, so ranking by `max(u_1..u_w)` draws the
    * same sample — and needs NO transcendental math. The uniforms are
    * md5(salt:id:copy) hex strings (fixed-width lowercase hex:
    * lexicographic = numeric), so the whole draw is exactly
    * re-derivable in any engine — the [[hashSplit]] portability
    * contract, extended to weighted sampling. The ranking key is the
    * max hex's first 13 chars (52 bits, exact in a double); ties break
    * by id ascending.
    *
    * Scale shape: the per-item key is ONE map-side projection
    * (`array_max` over a `transform(sequence(1, w), ...)` — no explode,
    * no shuffle for the copies), and the per-stratum top-n is the
    * partial [[graft.functions.TopKAggregator]] — n rows per
    * (stratum × partition) reach the shuffle, never the corpus. Weights
    * are capped by `maxW` (the per-row transform is O(w)): reweighting
    * beyond ~100 should bucket the weight, not replicate uniforms.
    *
    * Returns (strataCol, id, rank) with rank 1..n by key descending.
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weight: Column,
      n: Int,
      salt: String,
      maxW: Int = 100
  ): DataFrame = {
    require(n >= 1, "need n >= 1")
    val w = least(greatest(weight.cast("int"), lit(1)), lit(maxW))
    // key computed in ONE projection over the caller's frame (weight may
    // reference any of its columns); copies never materialize as rows
    val key = array_max(transform(
      sequence(lit(1), w),
      c => md5(concat_ws(":", lit(salt), col(idCol).cast("long").cast("string"), c.cast("string")))))
    val score = expr(s"CAST(CAST(conv(substring(__k, 1, 13), 16, 10) AS BIGINT) AS DOUBLE)")
    val topk = udaf(new graft.functions.TopKAggregator(n))
    df.select(col(strataCol), col(idCol).cast("long").as("__id"), key.as("__k"))
      .groupBy(col(strataCol))
      .agg(topk(score, col("__id")).as("nn"))
      .select(col(strataCol), posexplode(col("nn")))
      .select(
        col(strataCol),
        col("col.id").as(idCol),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Train/eval decontamination: for every document NOT in the train split,
    * how much of it already appears in train — the n-gram-overlap check a
    * training pipeline runs before trusting an eval set (eval documents
    * leaked into train inflate benchmark scores). Returns
    * (id, split, n_shingles, n_contaminated, rate) for non-train docs,
    * where n_contaminated counts the doc's distinct word w-shingles that
    * occur in ANY train document.
    *
    * Scale shape: shingles come from the native one-pass WordShingles
    * expression (distinct per doc, matching `list_distinct`); the train
    * side is reduced to DISTINCT shingles first (partial aggregate, so the
    * join's build side is the train vocabulary, not train rows × shingles);
    * the probe is one hash join on the shingle string, then a per-doc
    * count. No all-pairs document comparison at any point.
    */
  def contamination(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitCol: String,
      w: Int = 5,
      trainValue: String = "train"
  ): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(df.sparkSession)
    val exploded = df.select(
      col(idCol).cast("long").as("id"),
      col(splitCol).as("split"),
      explode(GraftFunctions.word_shingles(col(textCol), w)).as("sh"))
    val trainShingles = exploded.where(col("split") === trainValue)
      .select("sh").distinct().withColumn("in_train", lit(1))
    exploded.where(col("split") =!= trainValue)
      .join(trainShingles, Seq("sh"), "left")
      .groupBy("id", "split")
      .agg(
        count(lit(1)).as("n_shingles"),
        coalesce(sum(col("in_train")), lit(0L)).cast("long").as("n_contaminated"))
      .withColumn("rate", round(col("n_contaminated").cast("double") / col("n_shingles"), 4))
  }

  /** [[contamination]] with a bloom prefilter on the probe side — the form
    * that holds at corpus scale. The exact operator's cost center is the
    * shingle-on-shingle hash join: every eval shingle is shuffled to meet
    * the train vocabulary, though in a healthy corpus almost none of them
    * are contaminated. Here the train vocabulary is first reduced to a
    * bloom filter (one binary, built distributed by Spark's own
    * BloomFilterAggregate — the expression InjectRuntimeFilter plants —
    * and shipped to executors in the task binary like a broadcast var);
    * eval shingles that fail the probe are definitely clean (blooms have
    * no false negatives) and never enter the join. Only the passing
    * fraction (true contamination rate + `fpp`) is joined against the
    * vocabulary to weed out false positives, so the OUTPUT IS EXACTLY
    * [[contamination]]'s — same oracle — while the shuffle shrinks from
    * |eval shingles| to ~fpp·|eval shingles| on a clean corpus.
    *
    * `expectedItems` sizes the filter (items beyond it degrade fpp, never
    * correctness); at 100 TB you would take it from corpus stats. The
    * per-doc totals come from a separate join-free map-side aggregate, so
    * the extra scan costs one pass over (id, split, shingle) and no
    * shuffle beyond the count's partial agg.
    */
  def contaminationBloom(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitCol: String,
      w: Int = 5,
      trainValue: String = "train",
      expectedItems: Long = -1L,
      fpp: Double = 0.03
  ): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(df.sparkSession)
    val exploded = df.select(
      col(idCol).cast("long").as("id"),
      col(splitCol).as("split"),
      explode(GraftFunctions.word_shingles(col(textCol), w)).as("sh"))
    // eager localCheckpoint: the distinct vocabulary feeds THREE consumers
    // (size probe, bloom build, exact confirm join) — materialize it once
    // and truncate lineage instead of re-running the distinct shuffle per
    // consumer; storage is released with the returned frame (the
    // shardOffsets pattern). The vocabulary residency equals what the
    // exact confirm join needs anyway.
    val trainShingles = exploded.where(col("split") === trainValue)
      .select("sh").distinct().localCheckpoint(true)
    // auto-size the bloom to the REAL vocabulary unless the caller pins a
    // capacity: a fixed 4M-item default costs a ~3.8 MB filter whose
    // per-partition partials dominate small corpora (measured 4× slower
    // than the exact path at sf0.1), while undersizing inflates fpp —
    // sizing to the counted vocabulary is optimal on both ends.
    val items = if (expectedItems > 0) expectedItems else math.max(trainShingles.count(), 1024L)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, fpp)
    val bloom = trainShingles
      .agg(GraftFunctions.bloom_filter_agg(xxhash64(col("sh")), items, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val evalSh = exploded.where(col("split") =!= trainValue)
    // join-free totals: one partial-agg pass, no shuffle amplification
    val totals = evalSh.groupBy("id", "split").agg(count(lit(1)).as("n_shingles"))
    // bloom == null only when the train split is empty: nothing can be
    // contaminated, skip the join entirely
    val confirmed =
      if (bloom == null) totals.select(col("id"), lit(0L).as("n_contaminated")).limit(0)
      else
        evalSh
          .where(GraftFunctions.might_contain(lit(bloom), xxhash64(col("sh"))))
          .join(trainShingles, Seq("sh"), "left_semi")
          .groupBy("id")
          .agg(count(lit(1)).as("n_contaminated"))
    totals
      .join(confirmed, Seq("id"), "left")
      .select(
        col("id"),
        col("split"),
        col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("rate", round(col("n_contaminated").cast("double") / col("n_shingles"), 4))
  }

  /** Token-offset shard planning: assign every document its start offset in
    * the concatenated token stream and the fixed-size shard(s) it lands in —
    * the plan a pipeline computes before writing packed training shards
    * (documents are laid out in id order; a shard holds `shardTokens`
    * tokens; a document may span shards).
    *
    * The global running sum deliberately does NOT use `Window.orderBy`
    * (which serializes the corpus onto one task): like
    * `CdcCapture.assignIdsDistributed`, it range-partitions by id, takes
    * per-partition token sums (one tiny (pid, sum) row per partition on the
    * driver), and stamps offsets partition-locally — two passes, both fully
    * parallel, valid at any corpus size.
    */
  def shardOffsets(df: DataFrame, idCol: String, textCol: String, shardTokens: Long): DataFrame = {
    require(shardTokens > 0, "need shardTokens > 0")
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val base = df.select(
      col(idCol).cast("long").as("doc_id"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    // The cache must hold the EXACT partitioning both passes see: range
    // boundaries are sampled with the RDD id in the seed, so a replay
    // after unpersist could land rows in different partitions than the
    // ones `offsets` was keyed on — silently wrong offsets. It is
    // released below only after the stamped result is materialized and
    // its lineage truncated.
    val ordered = base.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id").cache()
    val partSums = ordered
      .groupBy(spark_partition_id().as("pid")).agg(sum(col("n_tokens")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partSums.map { case (pid, s) => val o = pid -> acc; acc += s; o }.toMap
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("start_offset", LongType, nullable = false)))
    // Eager localCheckpoint: materializes the stamped offsets against the
    // cached partitioning and truncates lineage, so `ordered` can be
    // released IMMEDIATELY (no per-call cache leak — the round-5 ADVICE
    // item) without the re-sample hazard of unpersisting a cache a lazy
    // result still depends on. The checkpointed result's storage is
    // GC-managed with the returned DataFrame.
    val stamped = ordered
      .mapPartitions { it =>
        var acc = offsets.getOrElse(TaskContext.getPartitionId(), 0L)
        it.map { r => val n = r.getLong(1); val out = Row(r.getLong(0), n, acc); acc += n; out }
      }(Encoders.row(schema))
      .localCheckpoint(true)
    ordered.unpersist(blocking = false)
    stamped
      // shard math in pure integer division so the SQL oracle reproduces
      // it bit-for-bit; an empty document occupies no tokens → 0 shards
      .withColumn("shard_id", expr(s"start_offset DIV $shardTokens"))
      .withColumn(
        "n_shards",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr(s"(start_offset + n_tokens - 1) DIV $shardTokens") - col("shard_id") + lit(1L)))
  }

  // ---- PII redaction ---------------------------------------------------------

  /** Email address pattern (ASCII local@domain.tld). Kept RE2-compatible
    * (no backrefs/lookaround) so the same pattern text runs in DuckDB and
    * other RE2 engines for cross-engine reproducibility.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 pattern. */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Loose international phone pattern: leading `+?digit`, 6+ inner
    * digits/separators, trailing digit.
    */
  val PhoneRe = "\\+?\\d[\\d() -]{6,}\\d"

  /** Scrub emails, then IPv4 addresses, then phone numbers to typed
    * placeholder tokens. Order matters — emails and IPs contain digit
    * runs the looser phone pattern would otherwise swallow — so the
    * chain is fixed and documented as part of the operator contract.
    *
    * Pure `regexp_replace` composition: map-only, codegen'd, no shuffle —
    * a 100 TB corpus scrub is a single scan.
    */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    regexp_replace(noIp, PhoneRe, "<PHONE>")
  }

  /** Per-document PII hit counts, measured on the same progressive chain
    * as [[redactPii]] (phone counted after email/IP removal, so a digit
    * run is attributed to exactly one category). Returns
    * (redacted, n_email, n_ip, n_phone) columns appended to `df`.
    */
  def redactPiiWithCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val noEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    df.withColumn("n_email", size(regexp_extract_all(t, lit(EmailRe), lit(0))))
      .withColumn("n_ip", size(regexp_extract_all(noEmail, lit(Ipv4Re), lit(0))))
      .withColumn("n_phone", size(regexp_extract_all(noIp, lit(PhoneRe), lit(0))))
      .withColumn("redacted", regexp_replace(noIp, PhoneRe, "<PHONE>"))
  }

  /** Full text-feature projection used by the pipeline queries. */
  def features(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("lang_pred", langId(col(textCol)))
      .withColumn("fp", fingerprint(col(textCol)))

  // ---- corpus-LM quality scoring ------------------------------------------

  /** Bigram-LM quality scoring — the CCNet idea (score documents by how
    * predictable their text is under a language model trained on a
    * trusted reference slice; Wenzek et al. 2020 use a KenLM 5-gram and
    * perplexity buckets) re-expressed INTEGER-EXACT: the model is the
    * bigram/context count table of an md5-selected reference slice
    * ([[hashKeep]] — deterministic, engine-portable), and a document's
    * signal is the per-occurrence next-token probability
    * `p = count_ref(w1, w2) / count_ref(w1 ·)` quantized to e6 in PURE
    * LONG arithmetic — `p_e6 = (2·10⁶·c2 + c1) div (2·c1)` is
    * round-half-up without ever touching a float, so sums and means are
    * bit-reproducible on any engine (the log-perplexity form would hash
    * differently across libm implementations; the mean-probability form
    * carries the same ordering signal for filtering).
    *
    * Output per document: `n_bigrams` (scored occurrences), `n_ctx`
    * (occurrences whose left context exists in the model), `n_hit`
    * (occurrences whose full bigram exists), `sum_p_e6` (integer sum of
    * per-occurrence e6 probabilities; unseen context or unseen
    * continuation contribute 0 — the harshest backoff, documented).
    * Consumers derive any ratio (mean probability = sum_p_e6 /
    * (10⁶·n_bigrams), OOV rate = 1 − n_ctx/n_bigrams) without losing
    * exactness.
    *
    * Plan shape: reference bigram counts are two hash aggregates over
    * the (md5-pruned, map-side filtered) reference scan; document
    * bigrams are a map-only `arrays_zip` of the token array with its
    * tail (no positional self-join); scoring is two equi-joins against
    * the model (broadcast when the model is small; at 100 TB the model
    * is a stored artifact bucketed by `w1` — the gram-store discipline).
    */
  def bigramLmScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      refSalt: String = "lmref",
      refFraction: Double = 0.25
  ): DataFrame = {
    val ws = split(trim(col(textCol)), "\\s+")
    def bigrams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), ws.as("__ws"))
      .where(size(col("__ws")) >= 2)
      .select(col("doc_id"), explode(
        arrays_zip(
          slice(col("__ws"), lit(1), size(col("__ws")) - 1),
          slice(col("__ws"), lit(2), size(col("__ws")) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val base = docs.select(col(idCol).cast("long").as("doc_id"), col(textCol))
    val ref = base.where(hashKeep(col("doc_id"), refSalt, refFraction))
    val refBg = bigrams(ref)
    val c2 = refBg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = refBg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val scored = bigrams(base)
      .join(c1, Seq("w1"), "left_outer")
      .join(c2, Seq("w1", "w2"), "left_outer")
      .withColumn("p_e6",
        when(col("c1").isNull || col("c2").isNull, lit(0L))
          .otherwise(expr("(2000000L * c2 + c1) div (2L * c1)")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c1").isNotNull, 1L).otherwise(0L)).as("n_ctx"),
        sum(when(col("c2").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(col("p_e6")).as("sum_p_e6"))
    // documents with fewer than two tokens carry zero bigrams — emit
    // them with zero counts rather than dropping them from the corpus
    base.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_ctx"), lit(0L)).as("n_ctx"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("sum_p_e6"), lit(0L)).as("sum_p_e6"))
  }

  /** Supervised quality-classifier scoring — the role the fastText
    * linear classifier plays in the GPT-3/LLaMA data pipelines (score
    * every crawl document by similarity to a trusted positive reference
    * vs a random negative reference, then filter/sample on the score) —
    * re-expressed INTEGER-EXACT as an averaged naive-Bayes posterior:
    * the model is the token count table of each reference slice, and a
    * document's signal is the per-occurrence Laplace-smoothed posterior
    * `P(pos|t) = (c_pos+1) / (c_pos+c_neg+2)` quantized to e6 in pure
    * long arithmetic (`(2·10⁶·a + b) div (2·b)` — round-half-up, no
    * float, no ln; the same sum-of-posteriors signal orders documents
    * the way the log-linear score does, monotone per token in the
    * likelihood ratio, and hashes identically on any engine). Tokens
    * unseen in BOTH references score the neutral 500000 (P = 1/2), so
    * out-of-vocabulary mass dilutes toward indifference instead of
    * dominating.
    *
    * Output per document: `n_tokens` (scored occurrences), `n_known`
    * (occurrences whose token exists in either reference), `sum_p_e6`
    * (integer sum of per-occurrence e6 posteriors). Consumers derive the
    * mean posterior (= sum_p_e6 / (10⁶·n_tokens)) and any filter band
    * without losing exactness.
    *
    * Plan shape: two reference hash aggregates full-outer-joined into
    * the model (vocabulary-sized — broadcast when small; at 100 TB the
    * model is a stored artifact bucketed by token, the BM25 dictionary
    * discipline), one token explode over the scored corpus, one model
    * equi-join, one per-doc sum — map-side combinable end to end.
    */
  def nbQualityScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      positives: DataFrame, // reference slices — only textCol is read
      negatives: DataFrame
  ): DataFrame = {
    def tokens(df: DataFrame): DataFrame = df
      .select(explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
    val model = tokens(positives).groupBy("tok").agg(count(lit(1)).as("c_pos"))
      .join(
        tokens(negatives).groupBy("tok").agg(count(lit(1)).as("c_neg")),
        Seq("tok"), "full_outer")
      .select(
        col("tok"),
        coalesce(col("c_pos"), lit(0L)).as("c_pos"),
        coalesce(col("c_neg"), lit(0L)).as("c_neg"))
    val base = docs.select(col(idCol).cast("long").as("doc_id"), col(textCol))
    val scored = base
      .select(col("doc_id"), explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .join(model, Seq("tok"), "left_outer")
      .select(
        col("doc_id"),
        when(col("c_pos").isNotNull, 1L).otherwise(0L).as("known"),
        (coalesce(col("c_pos"), lit(0L)) + 1L).as("a"),
        (coalesce(col("c_pos"), lit(0L)) + coalesce(col("c_neg"), lit(0L)) + 2L).as("b"))
      .withColumn("p_e6", expr("(2000000L * a + b) div (2L * b)"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("known")).as("n_known"),
        sum(col("p_e6")).as("sum_p_e6"))
    // empty documents carry zero tokens — keep them in the corpus
    base.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        coalesce(col("sum_p_e6"), lit(0L)).as("sum_p_e6"))
  }

  // ---- paragraph-granular boilerplate removal -----------------------------

  /** Strip BOILERPLATE paragraphs — paragraphs appearing verbatim in at
    * least `minDocs` DISTINCT documents — from every document (the
    * CCNet/web-crawl cleaning step: cookie banners, nav bars and
    * subscribe footers repeat across a crawl far more often than any
    * organic paragraph, and paragraph-granular removal deletes them
    * without touching the surrounding document the way whole-doc dedup
    * would). The WITHIN-document complement of the substring-dedup
    * family: [[graft.ext.Dedup.stripSpans]] removes long spans already
    * seen in EARLIER documents; this removes short units whose corpus
    * FREQUENCY marks them as template text, first occurrence included.
    *
    * Deterministic by construction — paragraph identity is the exact
    * string (keyed by md5 for shuffle width), counts are exact integers,
    * and reassembly preserves original paragraph order — so the result
    * is engine-reproducible with no float anywhere.
    *
    * Plan shape (one pass + one small join, the word-count discipline):
    * paragraph explode → exact distinct-doc count per paragraph hash
    * (one hash-shuffle over corpus paragraphs); the boilerplate set —
    * paragraphs clearing `minDocs` — is a tiny fraction of the corpus by
    * construction (template text is what repeats; at crawl scale it is
    * broadcast-sized and AQE picks the broadcast side automatically);
    * flagged paragraphs re-aggregate per document (one doc_id shuffle)
    * into the stripped text. Nothing rescans the corpus twice and no
    * stage is quadratic.
    *
    * Output: `(doc_id, n_paras, kept_paras, stripped_text)` — stripped
    * text joins kept paragraphs with `sep` in original order.
    */
  def boilerplateStrip(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int,
      sep: String = "\n"
  ): DataFrame = {
    require(minDocs >= 2, "need minDocs >= 2 — minDocs=1 would strip everything")
    val paras = paragraphs(docs, idCol, textCol, sep)
    val boiler = paras
      .groupBy("ph")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("ph"), lit(true).as("is_boiler"))
    reassembleStripped(paras.join(boiler, Seq("ph"), "left"), sep)
  }

  /** The exploded (doc_id, pos, para, ph) paragraph table of a corpus —
    * shared by [[boilerplateStrip]] and the streaming maintainer
    * ([[graft.streaming.CdcStream.boilerplateMaintain]]) so both split,
    * key and reassemble identically. */
  private[graft] def paragraphs(
      docs: DataFrame, idCol: String, textCol: String, sep: String): DataFrame =
    docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .select(col("doc_id"), col("pos"), col("col").as("para"))
      .withColumn("ph", md5(col("para")))

  /** Per-document reassembly of a flagged paragraph table — rows where
    * `is_boiler` is non-null drop, the rest rejoin with `sep` in
    * original order. */
  private[graft] def reassembleStripped(flagged: DataFrame, sep: String): DataFrame =
    flagged
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_paras"),
        count(when(col("is_boiler").isNull, lit(1))).cast("int").as("kept_paras"),
        // collect_list drops the nulls when() leaves for boilerplate rows;
        // array_sort on (pos, para) structs restores document order
        coalesce(
          array_join(
            transform(
              array_sort(collect_list(
                when(col("is_boiler").isNull, struct(col("pos"), col("para"))))),
              x => x.getField("para")),
            sep),
          lit("")).as("stripped_text"))

  // ---- BM25 lexical retrieval ---------------------------------------------

  /** Okapi BM25 top-k retrieval over the corpus (Robertson & Walker /
    * the TREC-3 Okapi formulation with Lucene's +1 idf smoothing) — the
    * LEXICAL complement to the embedding ANN family: decontamination
    * screens, curation queries and eval-leak hunts over a 100 TB text
    * corpus are keyword lookups before they are embedding lookups.
    *
    * score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl)), idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)). Per-term
    * scores are e6-quantized to LONGS and summed as integers, so the
    * per-document total is summation-order-FREE (the one place IEEE
    * addition order could leak engine dependence); ranking is (score_e6
    * desc, doc_id asc), fully deterministic.
    *
    * Plan shape (the inverted-index dataflow, declared not hand-built):
    * one token explode over the corpus → (doc, term, tf) hash aggregate
    * (the postings) and a term-keyed df aggregate (the dictionary);
    * query terms BROADCAST onto the postings (queries are small by
    * contract), per-(query, doc) integer aggregation, then partial
    * top-k via [[graft.functions.TopKAggregator]] — k rows per (query ×
    * partition) reach the shuffle, never the scored postings scan. At
    * scale the postings table is the stored artifact (bucketed by term,
    * the substring gram-store discipline); corpus stats (N, avgdl) are
    * one tiny aggregate (bounded 1-row collect).
    *
    * Output: `(q_id, doc_id, rank, score_e6, tf_sum, n_terms)` —
    * `tf_sum`/`n_terms` are the exact-integer match diagnostics the
    * driver gate anchors on.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame, // (queryIdCol, queryTextCol) — broadcast-small
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    val tf = bm25Postings(docs, idCol, textCol)
    // corpus stats: one 1-row aggregate (documented bounded collect)
    val statsRow = docs
      .select(tokenCount(col(textCol)).cast("double").as("dl"))
      .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      .head()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    bm25ScoreCore(
      tf, dfreq, bm25QueryTerms(queries, queryIdCol, queryTextCol),
      statsRow.getLong(0), statsRow.getDouble(1), k, k1, b)
  }

  /** The (doc_id, dl, term, tf) postings of a corpus — the inverted
    * index's fact table. Package-visible so the streaming maintainer
    * ([[graft.streaming.CdcStream.bm25IndexMaintain]]) derives each
    * micro-batch's partial from the same definition the batch build and
    * the inline scorer use. */
  private[graft] def bm25Postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("__ws"))
      .select(col("doc_id"), size(col("__ws")).as("dl"), explode(col("__ws")).as("term"))
      .where(col("term") =!= "")
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))

  /** Distinct (q_id, term) rows of a query table (BM25 query terms are a
    * set). */
  private def bm25QueryTerms(
      queries: DataFrame, queryIdCol: String, queryTextCol: String): DataFrame =
    queries
      .select(
        col(queryIdCol).cast("long").as("q_id"),
        explode(split(trim(col(queryTextCol)), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .distinct()

  /** The per-posting e6-quantized BM25 contribution — ONE definition
    * shared by the inline scorer, the stored probe and the block-max
    * early-termination path, so every path computes bit-identical
    * doubles before the e6 floor. Expects columns (tf, dl, df). */
  private def bm25ScoreE6(n: Long, avgdl: Double, k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfPart = col("tf").cast("double") * (lit(k1) + 1.0) /
      (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl)))
    floor(idf * tfPart * 1e6 + 0.5).cast("long")
  }

  /** Per-(query, doc) integer aggregation of per-term contributions —
    * shared by both scorer paths. Input needs (q_id, doc_id, score_e6,
    * tf); extra columns pass through the groupBy untouched. */
  private def bm25PerDoc(perTerm: DataFrame, extraAggs: Seq[Column] = Seq.empty): DataFrame =
    perTerm
      .groupBy("q_id", "doc_id")
      .agg(
        sum(col("score_e6")).as("score_e6"),
        (Seq(sum(col("tf")).as("tf_sum"), count(lit(1)).as("n_terms")) ++ extraAggs): _*)

  /** Partial top-k + output formatting over a scored (q_id, doc_id,
    * score_e6, tf_sum, n_terms) frame — shared tail of both paths (the
    * [[graft.functions.TopKPayloadAggregator]] keeps k rows per (query ×
    * partition) ahead of the shuffle; ordering is score desc, doc_id
    * asc on both paths). tf_sum/n_terms ride the aggregation buffer as
    * payloads, so the tail is ONE pass over the scored frame — the
    * previous payload-free form evaluated it twice (aggregate + a
    * (q_id, doc_id) re-attach join) behind a cache that nothing could
    * unpersist because the returned frame is lazy (every stored probe
    * leaked one cache entry until the caller's clearCache). The e6
    * score round-trips long→double→long exactly (≪ 2^53). */
  private def bm25TopKTail(perDoc: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKPayloadAggregator(k))
    perDoc
      .groupBy("q_id")
      .agg(topk(col("score_e6").cast("double"), col("doc_id"),
        col("tf_sum"), col("n_terms")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")))
      .select(col("q_id"), col("col.id").as("doc_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.score").cast("long").as("score_e6"),
        col("col.p1").as("tf_sum"), col("col.p2").as("n_terms"))
  }

  /** Scoring + top-k shared by [[bm25TopK]] and [[bm25TopKStored]]. */
  private def bm25ScoreCore(
      tf: DataFrame, // (doc_id, dl, term, tf)
      dfreq: DataFrame, // (term, df)
      qterms: DataFrame, // (q_id, term)
      n: Long,
      avgdl: Double,
      k: Int,
      k1: Double,
      b: Double
  ): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(n > 0, "empty corpus")
    val perTerm = tf
      // dfreq is NOT broadcast-hinted here: the inline [[bm25TopK]]
      // passes the corpus-wide dictionary (the stored probe's literal
      // query-term frame auto-broadcasts from its exact LocalRelation
      // size) — the planner must stay free to shuffle it at scale
      .join(dfreq, Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .withColumn("score_e6", bm25ScoreE6(n, avgdl, k1, b))
    bm25TopKTail(bm25PerDoc(perTerm), k)
  }

  /** Marker file inside a persisted BM25 index recording its bucket
    * layout. */
  private def bm25Marker(path: String) = s"$path/_GRAFT_BM25_INDEX"

  /** Stamp (or verify) a BM25 index directory's bucket count. Writing is
    * idempotent; a directory already stamped with a DIFFERENT bucket
    * count is refused — a probe or maintainer banding with a different
    * bucket function than the index was built with would silently read
    * the wrong partitions (the semantic-index K-stamp idiom). */
  private[graft] def ensureBm25Marker(
      spark: org.apache.spark.sql.SparkSession, path: String, numBuckets: Int): Unit = {
    require(numBuckets >= 1, "need numBuckets >= 1")
    Marker.verifyOrStamp(spark, bm25Marker(path), s"bm25:buckets=$numBuckets:v2")(got =>
      new IllegalArgumentException(
        s"BM25 index at $path was built with '$got', got numBuckets=$numBuckets"))
  }

  /** The bucket count a BM25 index directory was stamped with — None
    * when no index marker exists yet (a maintainer seeding a fresh
    * index). */
  private[graft] def bm25StampedBuckets(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[Int] =
    Marker.read(spark, bm25Marker(path)).flatMap(Marker.buckets)

  /** Persist the BM25 inverted index as the STORED artifact a serving
    * deployment reads: `path/postings` and `path/dict` partitioned by
    * `tb` (term-hash bucket, `numBuckets`-way — the gram-store
    * discipline), `path/stats`, and a marker stamping `numBuckets` so
    * probes can never band with a different bucket function than the
    * index was built with (the semantic-index K-stamp idiom). Build cost
    * is one token explode + one hash aggregate + one per-(term, bucket)
    * window sort (the impact-block assignment) + the blockmax fold —
    * paid once, amortized over every query batch; the dictionary folds
    * out of the blockmax sidecar, never a second postings scan.
    *
    * Every sub-table is MERGEABLE: dict rows are (term, df) PARTIALS
    * summed at probe time, stats rows are (n, sum_dl) partials — so the
    * same layout accepts per-micro-batch appends from
    * [[graft.streaming.CdcStream.bm25IndexMaintain]] (each batch's
    * partials land in its own `ingest_batch=` partition) and a one-shot
    * batch build is just the single-partial special case. Postings are
    * per-document facts and need no merging at all.
    */
  /** `blockSize`: postings per impact block. Each term's postings are
    * ranked by their BM25 tf-part at the build's own avgdl (descending
    * — highest-impact first; ordering only steers how FAST the
    * block-max probe terminates, validity comes from each block's
    * `(max_tf, min_dl)` bounds) and cut into `blockSize`-posting blocks
    * (`blk`), written sorted `(term, blk)` within each `tb` partition
    * so parquet row-group stats prune both the term and the block
    * filters. Beside the postings, `path/blockmax` records each
    * block's `(max_tf, min_dl, n_rows)` — the per-block score upper
    * bound [[bm25TopKStored]]'s early-termination probe stops against.
    */
  def materializeBm25Index(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numBuckets: Int = 64,
      blockSize: Int = 4096
  ): Unit = {
    require(blockSize >= 1, "need blockSize >= 1")
    val spark = docs.sparkSession
    ensureBm25Marker(spark, path, numBuckets)
    // DISARM FIRST: a crashed rebuild over an already-armed index must
    // never leave the old marker advertising a sidecar whose blockmax /
    // dict tables describe postings this build is about to overwrite —
    // probes fall back to the (always-correct) full scan until the
    // re-arm below lands as this build's last write
    clearBm25BlockMax(spark, path)
    val statsRow = bm25StatsPartial(docs, textCol).head()
    val buildN = statsRow.getLong(0)
    val buildAvgdl =
      if (buildN == 0L) 1.0 else statsRow.getLong(1).toDouble / buildN.toDouble
    val tb = pmod(xxhash64(col("term")), lit(numBuckets)).cast("int").as("tb")
    val tf = bm25AssignBlocks(
      bm25Postings(docs, idCol, textCol).withColumn("tb", tb),
      buildAvgdl, blockSize)
    tf.repartition(numBuckets, col("tb"))
      .sortWithinPartitions("term", "blk")
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings")
    // the sidecar fold runs ONCE over the freshly written postings and
    // is cached (tiny — one row per (term, block)); the three remaining
    // writes are then independent consumers of driver-held state — the
    // blockmax table, the dictionary (df = the sum of a term's block
    // sizes — never a second postings scan), and the 1-row stats partial
    // already computed for avgdl above — so they run CONCURRENTLY
    // (§2.6): the build pays the slowest of the three, not their sum,
    // and the dict fold no longer waits on (or re-reads) the written
    // blockmax parquet. Marker still LAST, after every write settles —
    // a crashed build must not advertise a sidecar whose tables may be
    // missing.
    import spark.implicits._
    val sidecar = bm25BlockSidecar(spark.read.parquet(s"$path/postings")).cache()
    try Overlap.all(Seq(
      () => sidecar
        .repartition(numBuckets, col("tb"))
        .sortWithinPartitions("term", "blk")
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/blockmax"),
      () => sidecar
        .groupBy("term", "tb").agg(sum(col("n_rows")).as("df"))
        .repartition(numBuckets, col("tb"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/dict"),
      () => Seq((buildN, statsRow.getLong(1))).toDF("n", "sum_dl")
        .write.mode("overwrite").parquet(s"$path/stats")))
    finally sidecar.unpersist()
    writeBm25BlockMaxMarker(spark, path, blockSize)
    ()
  }

  /** Impact-block assignment shared by the one-shot build and the
    * streamed compactor: rank each (term, tb)'s postings by their BM25
    * tf-part at the given avgdl (descending — highest-impact first;
    * ordering only steers how FAST the block-max probe terminates,
    * validity comes from each block's `(max_tf, min_dl)` bounds) and cut
    * them into `blockSize`-posting blocks. k1/b defaults are fine for
    * the ordering: tf-part is monotone ↑ in tf and ↓ in dl, so the idf
    * factor (constant within a term) cannot change the per-term order.
    */
  private[graft] def bm25AssignBlocks(
      tf: DataFrame, avgdl: Double, blockSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val impact = col("tf").cast("double") /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
        col("dl").cast("double") / lit(avgdl)))
    tf.withColumn("blk", ((row_number().over(
      Window.partitionBy("term", "tb")
        .orderBy(impact.desc, col("doc_id").asc)) - 1) / blockSize).cast("int"))
  }

  /** The per-block `(max_tf, min_dl, n_rows)` bound table folded from
    * block-assigned postings — the score upper bounds the block-max
    * probe terminates against. */
  private[graft] def bm25BlockSidecar(postings: DataFrame): DataFrame =
    postings
      .groupBy("term", "tb", "blk")
      .agg(max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"),
        count(lit(1)).as("n_rows"))

  /** Marker file recording that a BM25 index carries the block-max
    * sidecar (and which blockSize built it). Streamed appends
    * ([[graft.streaming.CdcStream.bm25IndexMaintain]]) DISARM it — an
    * appended batch's postings carry no block assignment, so a stale
    * sidecar would silently hide them from the block filter;
    * [[graft.streaming.CdcStream.compactBm25Index]] is what (re)arms
    * early termination over a streamed corpus, as part of its fold. */
  private def bm25BlockMaxMarker(path: String) = s"$path/_GRAFT_BM25_BLOCKMAX"

  private[graft] def writeBm25BlockMaxMarker(
      spark: org.apache.spark.sql.SparkSession, path: String, blockSize: Int): Unit =
    Marker.write(spark, bm25BlockMaxMarker(path), s"bm25bm:block=$blockSize:v1")

  /** Disarm the block-max sidecar: marker FIRST (no window where an
    * armed marker advertises a deleted or stale sidecar), then the
    * bound table itself. Probes fall back to the full-scan path, which
    * never needs the sidecar. */
  private[graft] def clearBm25BlockMax(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    Marker.delete(spark, bm25BlockMaxMarker(path))
    Marker.delete(spark, s"$path/blockmax")
  }

  private[graft] def hasBm25BlockMax(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    Marker.exists(spark, bm25BlockMaxMarker(path))

  /** The blockSize an armed index's sidecar was built with (from the
    * marker [[writeBm25BlockMaxMarker]] stamps) — the probe's first-
    * admission sizing reads it. Only meaningful when [[hasBm25BlockMax]]
    * holds; falls back to 1 (first admission = ceil(k) postings ≈ the
    * minimum any top-k can certify on) on an unparseable stamp. */
  private[graft] def bm25BlockMaxSize(
      spark: org.apache.spark.sql.SparkSession, path: String): Int =
    Marker.read(spark, bm25BlockMaxMarker(path))
      .flatMap("bm25bm:block=([0-9]+):v1".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).filter(_ >= 1).getOrElse(1)

  /** The mergeable (n, sum_dl) corpus-stats partial of a document set —
    * dl summed as a LONG, so partials merge exactly and avgdl =
    * sum(sum_dl) / sum(n) is bit-identical however the corpus was
    * batched. */
  private[graft] def bm25StatsPartial(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(tokenCount(col(textCol)).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))

  /** [[bm25TopK]] against the [[materializeBm25Index]] STORED layout —
    * the serving path: the query terms' hash buckets are collected
    * (bounded by the query-term count; queries are broadcast-small by
    * contract) and pushed as STATIC partition filters on the postings
    * and dictionary scans, so a query batch reads only the `tb`
    * partitions its terms hash into — at a 100 TB corpus that is a few
    * buckets of postings, not the index. The bucket count comes from
    * the artifact's marker, never from the caller.
    *
    * Reads both producers of the layout identically: the one-shot
    * [[materializeBm25Index]] build and the per-micro-batch partials of
    * [[graft.streaming.CdcStream.bm25IndexMaintain]] — dict df partials
    * are summed per term and stats partials merged before scoring, which
    * is exact because every sub-table is mergeable by construction.
    */
  /** `maxQueryTermDfFrac`: the STOPWORD guard. A query containing "the"
    * would otherwise drag a posting list the size of the corpus through
    * the scoring join — bucket pruning cannot help, because the bucket
    * holding a stopword's postings IS huge. With the guard set, query
    * terms whose merged document frequency exceeds `frac · N` are
    * dropped BEFORE the postings scan (their idf ≈ ln(1 + (N−df+0.5)/
    * (df+0.5)) ≈ 0, so every candidate document's score moves by ≈
    * nothing and top-k identity is near-invariant — the stop-list
    * behavior of production engines). The df check reads only the
    * DICTIONARY (one row per term per contributing batch — never the
    * postings), and the collect is bounded by the distinct query-term
    * count. A query whose terms ALL trip the guard returns no rows —
    * a pure-stopword query has no discriminative signal to rank by.
    *
    * Independent of the guard, the final query-term set is pushed into
    * the postings scan as a `term IN (…)` filter beside the `tb`
    * partition filter, so parquet row-group stats skip forbidden terms'
    * postings instead of surfacing them for the join to discard.
    */
  def bm25TopKStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxQueryTermDfFrac: Option[Double] = None
  ): DataFrame = {
    val numBuckets = bm25StampedBuckets(spark, path).getOrElse(throw new IllegalArgumentException(
      s"no BM25 index marker at $path — build it with materializeBm25Index " +
        "or CdcStream.bm25IndexMaintain"))
    // the two PRELIMINARY driver actions — the (n, sum_dl) stats merge
    // (a 1-row-per-batch table) and the query-term collect — share no
    // inputs, so they run as two concurrent jobs (§2.6): the probe pays
    // the slower of the two round-trips, not the sum
    val (qRows, statsRow) = Overlap.scope { s =>
      val stats = s.fork(
        spark.read.parquet(s"$path/stats")
          .agg(
            coalesce(sum(col("n")), lit(0L)).as("n"),
            coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"))
          .head())
      val qterms = bm25QueryTerms(queries, queryIdCol, queryTextCol)
        .withColumn("tb", pmod(xxhash64(col("term")), lit(numBuckets)).cast("int"))
      // bounded collect: one row per (query, distinct term) at most
      // (queries are broadcast-small by contract) — collected ONCE and
      // re-issued below as a LITERAL frame. Joining the lazy `qterms`
      // instead would re-evaluate the query table's full lineage in every
      // scoring join and every block-max certification round (in the
      // gates that lineage is a corpus scan per round).
      val rows = qterms.select("q_id", "term", "tb").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      (rows, s.await(stats))
    }
    val qTerm = qRows.map(r => (r._2, r._3)).distinct
    val n = statsRow.getLong(0)
    require(n > 0, s"BM25 index at $path holds an empty corpus")
    val avgdl = statsRow.getLong(1).toDouble / n.toDouble
    // df partials (one per contributing batch) merge to the global df —
    // read from the term-bucketed dictionary, never the postings. The
    // lazy aggregate is COLLECTED here (≤ one row per distinct query
    // term) only when something needs driver-side df values before the
    // first scan: the stopword guard. Both scan paths avoid the collect
    // otherwise — the armed block-max path's df values ride the sidecar
    // ranking collect, and the full-scan path joins the lazy aggregate
    // directly (its tail is a single pass now, so the dict read runs
    // exactly once inside the scoring plan) — one fewer sequential
    // driver round-trip per probe on each.
    val dfreqLazy = bm25PrunedRead(spark, path, "dict", qTerm)
      .groupBy("term").agg(sum(col("df")).as("df"))
    val armed = hasBm25BlockMax(spark, path)
    val needDfCollect = maxQueryTermDfFrac.isDefined
    val dfRows: Seq[(String, Long)] =
      if (needDfCollect)
        dfreqLazy.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      else Seq.empty
    val dropped: Set[String] = maxQueryTermDfFrac match {
      case Some(frac) =>
        require(frac > 0.0 && frac <= 1.0, "need 0 < maxQueryTermDfFrac <= 1")
        dfRows.filter(_._2 > frac * n.toDouble).map(_._1).toSet
      case None => Set.empty
    }
    val keep = qTerm.filterNot(t => dropped(t._1))
    import spark.implicits._
    // dropped terms never reach a join anyway (both paths join through
    // the kept term set); filtering the literal df frame up front just
    // keeps the broadcast minimal
    val qtermsKept = qRows.collect { case (q, t, _) if !dropped(t) => (q, t) }
      .toDF("q_id", "term")
    lastBlockMaxStats = None
    if (keep.nonEmpty && armed)
      bm25TopKStoredBlockMax(spark, path, keep, qtermsKept, dfreqLazy, n, avgdl, k, k1, b)
    else {
      // guard path: re-issue the already-collected df values as a
      // literal frame (filtered to the kept terms). No-guard path: join
      // the lazy pruned-dict aggregate — broadcast-hinted, since its
      // static estimate (a whole-table read) vastly overstates the ≤
      // one-row-per-query-term reality
      val dfArg =
        if (needDfCollect) dfRows.filterNot(t => dropped(t._1)).toDF("term", "df")
        else broadcast(dfreqLazy)
      bm25ScoreCore(
        bm25PrunedRead(spark, path, "postings", keep).select("doc_id", "dl", "term", "tf"),
        dfArg,
        qtermsKept,
        n, avgdl, k, k1, b)
    }
  }

  /** Read `path/<sub>` pruned to the query terms' buckets AND the exact
    * term set. When the one-shot layout (top-level `tb=` dirs) is
    * present, the requested bucket dirs are opened DIRECTLY
    * (basePath-anchored) so listing cost is O(touched buckets) — with
    * the deployment rule bucket-count ∝ corpus-size, a full partition
    * discovery would grow with the corpus even for a one-term probe.
    * The streamed `ingest_batch=`/`tb=` layout keeps the normal pruned
    * read: its bucket count is a fixed constant and compaction bounds
    * its dir count. */
  private def bm25PrunedRead(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      sub: String,
      terms: Seq[(String, Int)]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val basePath = s"$path/$sub"
    val base = new Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def termFilter(t: DataFrame): DataFrame =
      if (terms.isEmpty) t.where(lit(false))
      else t.where(
        col("tb").isin(terms.map(_._2).distinct: _*) &&
          col("term").isin(terms.map(_._1).distinct: _*))
    val children =
      if (fs.exists(base)) fs.listStatus(base).map(_.getPath.getName)
      else Array.empty[String]
    val oneShot = children.exists(_.startsWith("tb="))
    // defense in depth behind the bm25IndexApplyBatch layout refusal: a
    // one-shot (tb=) table that somehow gained streamed (ingest_batch=)
    // children would have its streamed rows silently invisible to the
    // direct-dir read below — fail loudly instead of pruning them away
    require(!(oneShot && children.exists(_.startsWith("ingest_batch="))),
      s"mixed BM25 layout at $basePath: both tb= and ingest_batch= " +
        "children present — a one-shot materializeBm25Index build and " +
        "streamed bm25IndexMaintain appends cannot share a table; " +
        "rebuild the index at this path or point the maintainer at a " +
        "fresh one")
    if (!oneShot) termFilter(spark.read.parquet(basePath))
    else {
      val dirs = terms.map(_._2).distinct.map(b => s"$basePath/tb=$b")
        .filter(d => fs.exists(new Path(d)))
      if (dirs.isEmpty) spark.read.parquet(basePath).where(lit(false))
      else termFilter(spark.read.option("basePath", basePath).parquet(dirs: _*))
    }
  }

  /** Bounded driver-side block metadata per query term: past this many
    * blocks the tail folds to one (max-ub, whole-term) rung — driver
    * memory stays O(queryTerms · MaxDriverBlocks) however hot a term
    * is. */
  private val MaxDriverBlocks = 8192

  /** Escalation telemetry of the MOST RECENT block-max probe on this
    * driver: (certification rounds, admitted blocks at certification).
    * None when the last [[bm25TopKStored]] call took the full-scan path
    * (no sidecar, empty term set, or all terms guarded off). Written so
    * a production regression — pathological term distributions forcing
    * the geometric escalation toward the full scan — is observable
    * (the stress harness reports it per probe) rather than silent. */
  @volatile private[graft] var lastBlockMaxStats: Option[(Int, Long)] = None

  /** Integer-domain slack added to every block upper bound: tf-part is
    * monotone in (tf, dl) in the reals, but the block bound and the
    * posting score are two separate double evaluations — a sub-ulp
    * asymmetry at the e6 floor could otherwise understate a bound by
    * one. Slack only weakens pruning, never correctness. */
  private val UbSlackE6 = 8L

  /** [[bm25TopKStored]] with BLOCK-MAX EARLY TERMINATION — the
    * impact-ordered-index answer to the one scale-weak plan left in
    * r13: without it the probe scores EVERY posting of every query
    * term, so a mid-frequency term's probe wall grows linearly with its
    * corpus-side posting-list length (measured 0.74 s → 17.3 s at
    * 1×→100× on the stress corpus). With the [[materializeBm25Index]]
    * sidecar the probe instead:
    *
    *  1. admits each term's highest-impact block and scores it exactly
    *     (the same [[bm25ScoreE6]] expression as the full path — the
    *     e6-long partial sums are order-free, so accumulated scores of
    *     fully-seen documents are bit-identical to a full scan);
    *  2. checks an EXACTNESS CERTIFICATE per query against the unseen
    *     mass, where `R_t` = max upper bound over term t's unadmitted
    *     blocks and `totR = Σ R_t`:
    *       - every top-k document's score is COMPLETE (each of the
    *         query's terms is either exhausted or already contributed
    *         to it: `totR − seenR(d) = 0`),
    *       - no UNSEEN document can reach the top-k (`totR < θ`, the
    *         k-th accumulated score — an unseen doc's postings all sit
    *         in unadmitted blocks, so its score is ≤ totR),
    *       - no PARTIALLY-seen document can cross θ
    *         (`acc(d) + totR − seenR(d) < θ` for every rank > k);
    *  3. on failure jumps each uncertified query's terms straight down
    *     their upper-bound ladders to the shallowest depth whose
    *     projected unseen mass satisfies the certificate at the CURRENT
    *     θ (θ-targeted escalation — the ladder is already on the
    *     driver, so the jump costs no extra job), with the old ×4
    *     geometric growth kept as the per-term floor: round count never
    *     exceeds the ladder's ≤ log₄(blocks) worst case, the admitted
    *     set stays ≤ max(4×, θ-prefix) of the minimal certifiable
    *     prefix, and completeness failures (a top-k doc not yet proven
    *     to lack a term) still ride the ladder to that term's full
    *     admission (see the escalation comment for the rationale).
    *
    * Strict `<` comparisons make ties conservative: an exactly-θ
    * potential keeps scanning until the tie is resolved by real scores,
    * so the (score desc, doc_id asc) tie-break always acts on exact
    * values and the output is bit-identical to the full path's.
    */
  private def bm25TopKStoredBlockMax(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keep: Seq[(String, Int)],
      qtermsKept: DataFrame,
      dfreq: DataFrame,
      n: Long,
      avgdl: Double,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "need k >= 1")
    val ranked = bm25PrunedRead(spark, path, "blockmax", keep)
      .join(broadcast(dfreq), Seq("term"))
      .select(col("term"), col("blk"), col("max_tf").as("tf"),
        col("min_dl").as("dl"), col("df"))
      .withColumn("ub_e6", bm25ScoreE6(n, avgdl, k1, b) + lit(UbSlackE6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("term").orderBy(col("ub_e6").desc, col("blk").asc)))
    // ONE bounded collect (≤ MaxDriverBlocks+1 rows per query term): rn
    // is ordered by ub_e6 desc within a term, so the max upper bound
    // over the beyond-the-list tail (rn > MaxDriverBlocks) is exactly
    // the ub at rn = MaxDriverBlocks+1 — collecting that one extra rung
    // replaces a second evaluation of the whole ranked frame. The dict
    // df rides along (constant within a term), so the armed path never
    // needs a separate dictionary collect — the per-round scoring joins
    // below re-issue it as a literal frame.
    val rankedRows = ranked
      .where(col("rn") <= MaxDriverBlocks + 1)
      .select("term", "blk", "ub_e6", "rn", "df").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    val top: Map[String, Vector[(Int, Long)]] = rankedRows
      .filter(_._4 <= MaxDriverBlocks)
      .map(r => (r._1, (r._2, r._3)))
      .groupBy(_._1).map { case (t, xs) =>
        t -> xs.map(_._2).sortBy(x => (-x._2, x._1)).toVector
      }
    val restMax: Map[String, Long] = rankedRows
      .filter(_._4 == MaxDriverBlocks + 1)
      .map(r => r._1 -> r._3).toMap
    import spark.implicits._
    val dfLit = rankedRows.map(r => (r._1, r._5)).distinct.toSeq.toDF("term", "df")
    val termsOf: Map[Long, Seq[String]] = qtermsKept
      .select("q_id", "term").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSeq }
    // admission state per block-bearing term: Some(c) = its top-c
    // blocks; None = the whole term (blk filter dropped). First
    // admission is ceil(k/blockSize) blocks, not 1: a top-k cannot
    // certify on fewer than k admitted postings from its dominant term,
    // so starting below that only buys guaranteed-failing certification
    // rounds — each a full driver round-trip. Validity never depends on
    // the admitted set (the certificate does), so this is purely a
    // round-count lever; at the default 4096-posting blocks c0 stays 1.
    val bs = bm25BlockMaxSize(spark, path)
    val c0 = math.max(1, math.min((k + bs - 1) / bs, MaxDriverBlocks))
    val admit = scala.collection.mutable.Map[String, Option[Int]]()
    top.keys.foreach(t => admit(t) = Some(math.min(c0, math.max(1, top(t).size))))
    // R_t of a term at a GIVEN admission state: max upper bound over
    // its unadmitted blocks (0 once the whole term is admitted)
    def rTof(t: String, st: Option[Int]): Long = st match {
      case None => 0L
      case Some(c) =>
        if (c < top(t).size) top(t)(c)._2 else restMax.getOrElse(t, 0L)
    }
    def rT(t: String): Long = admit.get(t) match {
      case None     => 0L // term has no blocks at all (no postings)
      case Some(st) => rTof(t, st)
    }
    val keepTerms = keep.map(_._1).filter(top.contains)
    if (keepTerms.isEmpty) {
      // no query term has any posting: the inner joins of the full path
      // produce the empty result with the right shape, scanning nothing
      // (keep's buckets exist but hold none of its terms' row groups).
      // Telemetry: the armed path WAS taken — zero rounds, zero blocks
      // (the 0-mass limit a needle probe hits before its term exists)
      lastBlockMaxStats = Some((0, 0L))
      return bm25ScoreCore(
        bm25PrunedRead(spark, path, "postings", keep)
          .select("doc_id", "dl", "term", "tf"),
        dfLit, qtermsKept, n, avgdl, k, k1, b)
    }
    def admittedBlocks: Long = keepTerms.map { t =>
      admit(t) match {
        case Some(c) => math.min(c, top(t).size).toLong
        case None    => top(t).size.toLong // whole term: ≥ its driver-listed blocks
      }
    }.sum
    var rounds = 0
    while (true) {
      rounds += 1
      val filt = keepTerms.map { t =>
        admit(t) match {
          case None    => col("term") === t
          case Some(c) => col("term") === t && col("blk").isin(top(t).take(c).map(_._1): _*)
        }
      }.reduce(_ || _)
      val rDf = spark.createDataFrame(keepTerms.map(t => (t, rT(t))))
        .toDF("term", "r_e6")
      val totR: Map[Long, Long] =
        termsOf.map { case (q, ts) => q -> ts.map(rT).sum }
      val perTerm = bm25PrunedRead(spark, path, "postings", keep)
        .where(filt)
        .select("doc_id", "dl", "term", "tf")
        .join(broadcast(dfLit), Seq("term"))
        .join(broadcast(qtermsKept), Seq("term"))
        .withColumn("score_e6", bm25ScoreE6(n, avgdl, k1, b))
        .join(broadcast(rDf), Seq("term"))
      val perDoc = bm25PerDoc(perTerm, Seq(sum(col("r_e6")).as("seen_r")))
      if (totR.values.forall(_ == 0L)) {
        // nothing unadmitted anywhere — the scan IS the full scan
        lastBlockMaxStats = Some((rounds, admittedBlocks))
        return bm25TopKTail(perDoc.drop("seen_r"), k)
      }
      // per-query certificate facts in ONE partial-aggregated pass
      // ([[graft.functions.Bm25CertAggregator]]): the previous
      // row_number-window + re-aggregate form shuffled every accumulated
      // candidate row twice per round; the aggregate ships k rows + two
      // longs per (query × partition), and tot_r (constant per query) is
      // closed over here on the driver instead of broadcast-joined.
      val certAgg = udaf(new graft.functions.Bm25CertAggregator(k))
      val cert = perDoc
        .groupBy("q_id")
        .agg(certAgg(col("score_e6"), col("doc_id"), col("seen_r")).as("c"))
        .select(col("q_id"), col("c.m"), col("c.theta"),
          col("c.minSeenTop"), col("c.restMax"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val uncertified = termsOf.keys.filter { q =>
        val tot = totR(q)
        cert.get(q) match {
          case None => tot > 0L // no doc surfaced yet; unseen mass remains
          case Some((m, theta, minSeenTop, restMax)) =>
            // max over top-k of (tot − seen) = tot − min(seen);
            // max over rank>k of (score + tot − seen) = tot + restMax
            val topGap = tot - minSeenTop
            val restPot = if (m > k) restMax + tot else Long.MinValue
            !(tot == 0L ||
              (m >= k && topGap == 0L && tot < theta && restPot < theta))
        }
      }.toSeq
      if (uncertified.isEmpty) {
        // certified: every top-k score is complete and nothing outside
        // can cross it — the partial accs of non-top docs feed the same
        // TopKAggregator tail and lose exactly as their true scores would
        lastBlockMaxStats = Some((rounds, admittedBlocks))
        return bm25TopKTail(perDoc.drop("seen_r"), k)
      }
      // θ-TARGETED escalation (r19, measured-first: rounds — each a
      // full sequential driver round-trip — dominated every multi-round
      // probe's wall, while per-round scanned rows stayed tiny). A
      // failed certificate leaves the driver holding each query's
      // accumulated k-th score θ (a LOWER bound on its final θ —
      // accumulated scores only grow as blocks admit) and every term's
      // full ub ladder (rankedRows), so instead of only quadrupling
      // blindly, jump each uncertified query's terms greedily
      // (largest-R first) down their ladders until the projected unseen
      // mass Σ_t R_t sinks strictly below θ — and below θ − restMax
      // when partially-seen candidates beyond rank k exist. The jump
      // lands on the minimal prefix satisfying the unseen-mass
      // certificate at the current θ-estimate, which any later
      // certifying round needs at least as much of; since θ_final ≥ θ,
      // overshoot past the θ_final-prefix is bounded by the gap between
      // the two estimates after one real round of scores.
      //
      // The old ×4 ladder stays as the per-term FLOOR of every advance
      // (its rationale unchanged: factor 4 halves rounds vs factor 2 at
      // comparable total I/O — the geometric rescan sum is g/(g−1) ×
      // final set, overshoot ≤ g), so the worst-case round count is
      // still ≤ log₄(blocks) and the jump can only REMOVE rounds.
      // Completeness failures — a top-k doc not yet proven to lack a
      // term, whose only cure is that term's FULL admission — ride the
      // floor exactly as before.
      val prevAdmit: Map[String, Option[Int]] = admit.toMap
      def canAdvance(t: String): Boolean = admit.get(t) match {
        case Some(Some(c)) => c < top(t).size || restMax.contains(t)
        case _             => false
      }
      def advanceOne(t: String): Unit = {
        admit(t) = admit(t) match {
          case Some(c) if c < top(t).size => Some(c + 1)
          case _                          => None
        }
        ()
      }
      uncertified.foreach { q =>
        cert.get(q).filter(_._1 >= k).foreach { case (m, theta, _, rm) =>
          val target = if (m > k) math.min(theta - 1L, theta - rm - 1L) else theta - 1L
          if (target >= 0L) {
            val ts = termsOf(q)
            var tot = ts.map(rT).sum
            while (tot > target && ts.exists(canAdvance)) {
              val t = ts.filter(canAdvance).maxBy(rT)
              val before = rT(t)
              advanceOne(t)
              tot += rT(t) - before
            }
          }
        }
      }
      // ×4 floor relative to the PRE-jump state, applied to every term
      // that had unseen mass going into this escalation (the old
      // escalate() firing rule) — guarantees ladder-speed progress even
      // where θ-targeting had nothing to say (m < k, no candidates yet,
      // or a pure completeness failure)
      uncertified.flatMap(termsOf).distinct
        .filter(t => prevAdmit.contains(t) && rTof(t, prevAdmit(t)) > 0L)
        .foreach { t =>
          val floor: Option[Int] = prevAdmit(t) match {
            case Some(c) if 4 * c < top(t).size => Some(4 * c)
            case Some(_) if restMax.contains(t) => None
            case Some(_)                        => Some(top(t).size)
            case None                           => None
          }
          admit(t) = (admit(t), floor) match {
            case (None, _) | (_, None) => None
            case (Some(a), Some(f))    => Some(math.max(a, f))
          }
        }
    }
    sys.error(s"unreachable: block-max loop exited after $rounds rounds")
  }
}
