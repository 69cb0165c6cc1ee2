package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Overlap
import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline, a
  * random-hyperplane LSH bucketed variant and an IVF (inverted-file,
  * centroid-probed) variant as the scale paths.
  *
  * Scale posture: the brute-force path broadcasts the (small) query set and
  * streams the corpus once — a map-only plan plus a per-query top-k
  * aggregation; no shuffle of the corpus. The LSH/IVF paths cut the scanned
  * fraction from 100% to (buckets probed / total buckets), which is the
  * published IVF trade-off (see PAPERS.md ANN entries); candidates are
  * re-scored exactly, so recall loss comes only from bucket misses.
  */
object Similarity {

  /** Exact cosine top-k neighbors for each query vector.
    *
    * Plan: broadcast the query set, scan the corpus once, and aggregate
    * per-query top-k with [[graft.functions.TopKAggregator]] — partial
    * aggregation keeps k rows per (query × partition) in the shuffle
    * instead of exchanging every scored pair, which is what makes this a
    * map-only corpus scan at 100 TB. (The window-ranked equivalent,
    * [[bruteForceTopKWindow]], shuffles |corpus|×|queries| scored rows.)
    *
    * @param corpus  (id, vec) corpus — any size; scanned once
    * @param queries (id, vec) query set — must be broadcast-small
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    import graft.functions.TopKAggregator
    val c = corpus.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    val scored = c
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", GraftFunctions.cosine_similarity(col("q_vec"), col("n_vec")))
    val topk = udaf(new TopKAggregator(k))
    scored
      .groupBy("q_id")
      .agg(topk(col("cos"), col("n_id")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")))
      .select(
        col("q_id"),
        col("col.id").as("n_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("cos")
      )
  }

  /** Window-ranked variant of [[bruteForceTopK]] — same results, kept as
    * the cross-check baseline (see ExtSpec parity test).
    */
  def bruteForceTopKWindow(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    val scored = c
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", GraftFunctions.cosine_similarity(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  // ---- random-hyperplane LSH ----------------------------------------------

  /** Sign-random-projection bucket id over `numPlanes` hyperplanes
    * (Charikar SRP-LSH): bit p = sign(v · r_p), plane components derived
    * from xxhash64(seed, plane, dim) — reproducible across runs without
    * storing plane matrices. Buckets collide for angularly-close vectors.
    *
    * Computed by the native [[graft.functions.SrpBucket]] expression (tight
    * primitive loop in whole-stage codegen); [[srpBucketReference]] is the
    * bit-identical built-in composition kept for the parity test.
    */
  def srpBucket(vec: Column, numPlanes: Int, seed: Int = 42): Column =
    GraftFunctions.srp_bucket(vec, numPlanes, seed)

  /** Built-in-composition form of [[srpBucket]] (interpreted HOFs —
    * reference semantics only, not for hot paths).
    */
  def srpBucketReference(vec: Column, numPlanes: Int, seed: Int = 42): Column = {
    def planeComponent(plane: Int, dim: Column): Column =
      (xxhash64(lit(seed), lit(plane), dim) % 1000).cast("double") / 1000.0
    val dims = sequence(lit(0), size(vec) - 1)
    val bits = (0 until numPlanes).map { p =>
      val dot = aggregate(
        zip_with(vec, dims, (x, i) => x.cast("double") * planeComponent(p, i)),
        lit(0.0),
        (acc, v) => acc + v
      )
      when(dot > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-bucketed ANN: probe only the query's bucket (and optionally
    * single-bit-flip neighbor buckets for recall), re-score candidates
    * exactly with cosine, emit top-k per query.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 8,
      multiProbeBits: Int = 1,
      seed: Int = 42
  ): DataFrame = {
    val c = corpus
      .select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("bucket", srpBucket(col("n_vec"), numPlanes, seed))
    // multi-probe: query probes its own bucket plus all buckets within
    // `multiProbeBits` bit flips (recall knob; 1 flip → numPlanes+1 probes)
    val flips: Seq[Column] = lit(0L) +: (if (multiProbeBits >= 1) (0 until numPlanes).map(p => shiftleft(lit(1L), p)) else Seq.empty)
    val q = queries
      .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("qb", srpBucket(col("q_vec"), numPlanes, seed))
      .withColumn("bucket", explode(array(flips.map(f => col("qb").bitwiseXOR(f)): _*)))
      .drop("qb")
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .where(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("cos", GraftFunctions.cosine_similarity(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  // ---- IVF (inverted file) ------------------------------------------------

  /** Build an IVF index: assign every corpus vector to its nearest centroid
    * (centroids via ml KMeans with a fixed seed). Returns (corpus +
    * centroid_id, centroids DF). At scale the assignment is a broadcast map
    * join (centroid count ≪ corpus) and the index is just a partitioning
    * column — write `partitionBy("centroid_id")` for pruned probes.
    *
    * SCALING CONTRACT: `nCentroids` MUST grow with the corpus (the
    * classic √n-to-n/1000 IVF sizing; the stress probes use n/500). At
    * fixed nCentroids each cell holds n/K vectors, so a fixed-nProbe
    * query scans Θ(n) rows and the "probe reads a ~constant row count"
    * claim only holds under the K ∝ n rule.
    */
  def ivfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      seed: Long = 42L
  ): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val withVec = corpus.select(
      col(idCol).cast("long").as("n_id"),
      col(vecCol).as("n_vec"),
      array_to_vector(col(vecCol)).as("features")
    )
    val km = new KMeans().setK(nCentroids).setSeed(seed).setMaxIter(10)
    val model = km.fit(withVec)
    val assigned = model.transform(withVec).withColumnRenamed("prediction", "centroid_id").drop("features")
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray.map(_.toFloat)) }
      .toSeq
    val spark = corpus.sparkSession
    import spark.implicits._
    val cdf = centroids.toDF("centroid_id", "c_vec").withColumn("c_vec", col("c_vec").cast("array<float>"))
    (assigned, cdf)
  }

  /** Conf key: directory holding a pre-built IVF index (bench warmup sets
    * it). An IVF index is built once per corpus and amortized over every
    * query that probes it, so the benched probe path reads a prebuilt
    * index — build cost is visible separately (Verify builds inline).
    */
  val IvfCacheConfKey = "spark.graft.sim.ivfCacheDir"

  /** [[ivfIndex]] behind the optional prebuilt-index cache. The cached
    * index is stored `partitionBy("centroid_id")` — the index IS a
    * partitioning column, so probe joins prune to the probed centroids'
    * partitions instead of scanning the corpus.
    */
  def cachedIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int
  ): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    spark.conf.getOption(IvfCacheConfKey) match {
      // the cache dir records the build parameters + source files it was
      // built from; a dir built for a different corpus / centroid count is
      // rejected and the index is rebuilt inline instead of silently served
      case Some(dir) if FixtureCache.matches(dir, ivfFingerprint(corpus, idCol, vecCol, nCentroids)) =>
        (spark.read.parquet(s"$dir/indexed"), spark.read.parquet(s"$dir/centroids"))
      case Some(dir) =>
        System.err.println(
          s"[graft] IVF cache at $dir does not match (corpus=${corpus.inputFiles.length} files, " +
            s"idCol=$idCol, vecCol=$vecCol, nCentroids=$nCentroids) — rebuilding inline")
        ivfIndex(corpus, idCol, vecCol, nCentroids)
      case None => ivfIndex(corpus, idCol, vecCol, nCentroids)
    }
  }

  private def ivfFingerprint(corpus: DataFrame, idCol: String, vecCol: String, nCentroids: Int): Option[String] =
    FixtureCache.fingerprint(corpus, "ivf", idCol, vecCol, nCentroids.toString)

  /** Build and persist the IVF index for `corpus` under `dir` and point
    * [[IvfCacheConfKey]] at it (bench warmup entry point). Same seed as
    * the inline path, so cached and inline probes see the same index.
    */
  def materializeIvfCache(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      dir: String
  ): Unit = {
    val (indexed, centroids) = ivfIndex(corpus, idCol, vecCol, nCentroids)
    indexed.write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/indexed")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    FixtureCache.write(dir, ivfFingerprint(corpus, idCol, vecCol, nCentroids))
    spark.conf.set(IvfCacheConfKey, dir)
  }

  /** Incremental IVF insert: assign new vectors to their nearest centroid
    * (squared-euclidean argmin — the SAME metric KMeans assigned the
    * original corpus with, so inserted vectors land in the cell a full
    * rebuild would give them) WITHOUT touching the built index. This is
    * how a real IVF absorbs writes between retrains: the index is a
    * partitioning, inserts are a broadcast map join against the (tiny)
    * centroid table — O(new × nCentroids), never a corpus rescan. Returns
    * rows shaped like [[ivfIndex]]'s indexed output (n_id, n_vec,
    * centroid_id), ready to union.
    */
  def ivfAssign(
      centroids: DataFrame, // (centroid_id, c_vec)
      vectors: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val v = vectors.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
    val w = Window.partitionBy(col("n_id")).orderBy(col("dist").asc, col("centroid_id").asc)
    v.crossJoin(broadcast(centroids))
      .withColumn("dist", aggregate(
        zip_with(col("n_vec"), col("c_vec"),
          (a, b) => (a.cast("double") - b.cast("double")) * (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select("n_id", "n_vec", "centroid_id")
  }

  /** IVF probe: for each query, rank centroids by cosine, keep the nearest
    * `nProbe`, and scan only those centroid partitions; re-score exactly.
    */
  def ivfTopK(
      indexed: DataFrame, // (n_id, n_vec, centroid_id)
      centroids: DataFrame, // (centroid_id, c_vec)
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("centroid_id").asc)
    val probes = q
      .crossJoin(broadcast(centroids))
      .withColumn("c_cos", GraftFunctions.cosine_similarity(col("q_vec"), col("c_vec")))
      .withColumn("c_rank", row_number().over(wq))
      .where(col("c_rank") <= nProbe)
      .select("q_id", "q_vec", "centroid_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    indexed
      .join(broadcast(probes), Seq("centroid_id"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos", GraftFunctions.cosine_similarity(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * vector-index compression step (4× smaller than float32, SIMD-friendly
    * dot products downstream).
    *
    * Per vector: `scale = max(|v_i|) / 127`, `q_i = floor(v_i/scale + 0.5)`
    * (explicit half-up, pinned so every engine rounds ties identically;
    * all-zero vectors take scale = 1 so q = 0 rather than NaN).
    *
    * Everything is higher-order array functions (`transform`/`aggregate`/
    * `zip_with`) inside ONE projection: no explode, no shuffle, no UDF —
    * quantizing a 100 TB embedding table is a map-only scan. Returns `df`
    * with `q_vec array<tinyint>`, `q_scale double` appended.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val v = s"transform($vecCol, x -> CAST(x AS DOUBLE))"
    val maxAbs = s"aggregate($v, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(x)))"
    val scale = s"CASE WHEN $maxAbs = 0.0 THEN 1.0 ELSE $maxAbs / 127.0 END"
    df.withColumn("q_scale", expr(scale))
      .withColumn("q_vec", expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) / q_scale + 0.5) AS TINYINT))"))
  }

  // ---- PQ (product quantization) ------------------------------------------

  /** Train product-quantization codebooks (Jégou, Douze & Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    * split the d-dim embedding into `m` contiguous subvectors of d/m dims
    * and k-means each subspace independently (ml KMeans, fixed seed per
    * subspace — the same estimator [[ivfIndex]] trains its coarse
    * centroids with). Returns the codebook table
    * `(sub int, code int, c_vec array<float>)`, m·ksub rows / a few KB:
    * like the banded Hamming index and the semantic seed table, the
    * codebook is a first-class STORED artifact — train once, persist, and
    * every encode/probe call reuses it without touching the corpus.
    *
    * Training reads the corpus ONCE: a deterministic id-hash sample of at
    * most `maxTrainRows` vectors is cached and all m sub-quantizers fit
    * on it (k-means codebooks converge on ~10⁵ training vectors — Jégou
    * et al. §V train on learning sets orders of magnitude below corpus
    * size), so building codebooks for a 100 TB embedding table costs one
    * sampled scan, not m full passes. Set `maxTrainRows = Long.MaxValue`
    * to force full-corpus training (ExtSpec pins sampled-vs-full ADC
    * agreement on planted copies). Subspaces with fewer distinct training
    * points than `ksub` pad by repeating center 0 (ties in encode's
    * argmin go to the lowest code, so pads are never selected).
    */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      seed: Long = 42L,
      maxTrainRows: Long = 100000L
  ): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(maxTrainRows >= 1, "need maxTrainRows >= 1")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(m >= 1 && dim % m == 0, s"m=$m must divide the embedding dim $dim")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    // train on a BOUNDED sample, cached once and fed to all m sub-fits —
    // the paper's recipe (codebooks converge on ~10⁵ training vectors) as
    // the coded default, instead of m full corpus passes. The sampler is
    // deterministic by CONTENT (id-hash modulus, no RNG/partitioning
    // dependence) so the same corpus always trains the same codebooks.
    val n = corpus.select(col(idCol)).count()
    val every = math.max(1L, (n + maxTrainRows - 1L) / maxTrainRows)
    val train0 =
      if (every == 1L) corpus.select(col(vecCol).as("__v"))
      else corpus
        .where(pmod(xxhash64(col(idCol).cast("long")), lit(every)) === 0)
        .select(col(vecCol).as("__v"))
    val train = train0.cache()
    try {
      // a training set smaller than ksub crashes the fit outright (and
      // one with fewer DISTINCT points yields fewer centers) — cap the
      // fitted k and pad below, instead of failing at build or probe time
      val trainN = train.count()
      require(trainN >= 1, "empty training set — corpus has no vectors")
      val kEff = math.min(ksub.toLong, trainN).toInt
      // the m sub-quantizer fits are INDEPENDENT (each reads the cached
      // sample, each is deterministic in its own seed) but a KMeans fit
      // is a long chain of tiny driver-sequential jobs — run the fits
      // concurrently so one fit's scheduling gaps back-fill with
      // another's tasks (guide: overlap independent jobs). Results are
      // awaited and assembled in subspace order, so the codebook table
      // is bit-identical to the sequential build's.
      Overlap.all((0 until m).map { s => () =>
        val sub = train.select(
          array_to_vector(slice(col("__v"), s * dsub + 1, dsub)).as("features"))
        val km = new KMeans().setK(kEff).setSeed(seed + s).setMaxIter(10)
        val model = km.fit(sub)
        val centers = model.clusterCenters
        // a subspace with fewer distinct training points than ksub yields
        // fewer centers — PAD by repeating center 0 up to ksub so the
        // codebook stays rectangular (encode's argmin ties go to the
        // lowest code, so pad entries are never chosen and probe-time
        // shape checks hold) instead of aborting at probe time
        val padded = centers ++ Array.fill(ksub - centers.length)(centers(0))
        padded.zipWithIndex.map { case (v, c) =>
          (s, c, v.toArray.map(_.toFloat).toSeq)
        }
      }).flatten.toDF("sub", "code", "c_vec")
    } finally { train.unpersist(); () }
  }

  /** Conf key: directory holding pre-trained PQ codebooks (bench warmup
    * sets it). Codebooks are trained once per corpus and amortized over
    * every encode/probe — the benched path reads the stored artifact;
    * training cost is visible separately (Verify builds inline).
    */
  val PqCacheConfKey = "spark.graft.sim.pqCacheDir"

  /** [[pqCodebooks]] behind the optional prebuilt-codebook cache — the
    * same fingerprint-validated contract as [[cachedIvfIndex]]: a cache
    * built for a different corpus or (m, ksub) is rejected and the
    * codebooks retrain inline instead of being silently served.
    */
  def cachedPqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int
  ): DataFrame = {
    val spark = corpus.sparkSession
    spark.conf.getOption(PqCacheConfKey) match {
      case Some(dir) if FixtureCache.matches(dir, pqFingerprint(corpus, idCol, vecCol, m, ksub)) =>
        spark.read.parquet(s"$dir/codebooks")
      case Some(dir) =>
        System.err.println(
          s"[graft] PQ cache at $dir does not match (corpus=${corpus.inputFiles.length} files, " +
            s"idCol=$idCol, vecCol=$vecCol, m=$m, ksub=$ksub) — retraining inline")
        pqCodebooks(corpus, idCol, vecCol, m, ksub)
      case None => pqCodebooks(corpus, idCol, vecCol, m, ksub)
    }
  }

  private def pqFingerprint(
      corpus: DataFrame, idCol: String, vecCol: String, m: Int, ksub: Int): Option[String] =
    FixtureCache.fingerprint(corpus, "pq", idCol, vecCol, s"$m/$ksub")

  /** Train and persist the PQ codebooks for `corpus` under `dir` and point
    * [[PqCacheConfKey]] at it (bench warmup entry point). Same seeds as
    * the inline path, so cached and inline probes see the same codebooks.
    */
  def materializePqCache(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      dir: String
  ): Unit = {
    pqCodebooks(corpus, idCol, vecCol, m, ksub)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    FixtureCache.write(dir, pqFingerprint(corpus, idCol, vecCol, m, ksub))
    spark.conf.set(PqCacheConfKey, dir)
  }

  /** Collect a codebook table into the nested (sub → code → dims) array
    * literal the encode/probe projections embed. Bounded by construction:
    * m·ksub rows (the documented-bounded-collect convention — a codebook
    * is sketch-sized state, never data-sized).
    */
  private def pqLocal(codebooks: DataFrame, m: Int, ksub: Int): Column = {
    val rows = codebooks.select("sub", "code", "c_vec").collect()
    require(rows.length == m * ksub,
      s"codebook has ${rows.length} rows, expected m*ksub = ${m * ksub}")
    val cb = Array.fill(m, ksub)(Seq.empty[Double])
    rows.foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).map(_.toDouble)
    }
    typedLit(cb.map(_.toSeq).toSeq)
  }

  /** Squared-L2 distance between subvector `s` of array column `v` and
    * codebook entry `(s, c)` of the embedded literal `cbCol` — the shared
    * kernel of encode (argmin over c) and the ADC table build. Pure
    * nested higher-order functions over a sequence: no UDF, no explode.
    */
  private def pqSubDist(v: String, cbCol: String, dsub: Int, s: String, c: String): String =
    s"""aggregate(sequence(1, $dsub), CAST(0.0 AS DOUBLE),
       |  (acc, i) -> acc +
       |    (CAST(element_at($v, $s * $dsub + i) AS DOUBLE)
       |      - element_at(element_at(element_at($cbCol, $s + 1), $c + 1), i))
       |    * (CAST(element_at($v, $s * $dsub + i) AS DOUBLE)
       |      - element_at(element_at(element_at($cbCol, $s + 1), $c + 1), i)))""".stripMargin

  /** PQ-encode a corpus: each vector → `m` byte-sized codes (the argmin
    * codebook entry per subspace, first-lowest on exact ties). ONE
    * map-only projection — the codebook rides along as a broadcast-sized
    * literal, so encoding a 100 TB embedding table is a shuffle-free scan
    * whose output is m bytes/vector (64-dim float32 → 8 codes is a 32×
    * compression; the codes table for 100 TB of embeddings fits in a few
    * TB of parquet, scannable entirely in cluster memory). Returns
    * `(n_id, codes array<int>)`.
    */
  def pqEncode(
      corpus: DataFrame,
      codebooks: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int
  ): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide the embedding dim $dim")
    val dsub = dim / m
    val codesExpr =
      s"""transform(sequence(0, ${m - 1}), s ->
         |  aggregate(
         |    transform(sequence(0, ${ksub - 1}), c ->
         |      named_struct('c', c, 'd', ${pqSubDist("__v", "__cb", dsub, "s", "c")})),
         |    named_struct('c', CAST(-1 AS INT), 'd', CAST('Infinity' AS DOUBLE)),
         |    (best, x) -> IF(x.d < best.d, x, best),
         |    best -> best.c))""".stripMargin
    corpus
      .select(col(idCol).cast("long").as("n_id"), col(vecCol).as("__v"))
      .withColumn("__cb", pqLocal(codebooks, m, ksub))
      .withColumn("codes", expr(codesExpr))
      .select("n_id", "codes")
  }

  /** PQ probe via asymmetric distance computation (ADC): each query
    * precomputes its m·ksub table of exact subspace distances to every
    * codebook entry (map-only on the query side), then the codes table is
    * scanned ONCE summing m table lookups per row — no vector arithmetic
    * touches the corpus, and the scan reads only `(n_id, codes)` (column
    * pruning keeps the float vectors out of the hot path entirely). The
    * top `candidates` per query by ADC distance are re-scored exactly
    * against the raw corpus vectors (broadcast of the candidate set — q·R
    * rows) and the best `k` by true cosine returned, so PQ quantization
    * error can reorder candidates but never fabricate a neighbor. Output:
    * `(q_id, n_id, rank, cos)`.
    */
  def pqTopK(
      codes: DataFrame, // (n_id, codes) from pqEncode
      codebooks: DataFrame, // (sub, code, c_vec) from pqCodebooks
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int,
      ksub: Int,
      candidates: Int = 32
  ): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide the embedding dim $dim")
    val dsub = dim / m
    val qtabExpr =
      s"""flatten(transform(sequence(0, ${m - 1}), s ->
         |  transform(sequence(0, ${ksub - 1}), c ->
         |    ${pqSubDist("q_vec", "__cb", dsub, "s", "c")})))""".stripMargin
    val q = queries
      .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__cb", pqLocal(codebooks, m, ksub))
      .withColumn("qtab", expr(qtabExpr))
      .drop("__cb")
    val adcExpr =
      s"""aggregate(sequence(0, ${m - 1}), CAST(0.0 AS DOUBLE),
         |  (acc, s) -> acc + element_at(qtab, s * $ksub + element_at(codes, s + 1) + 1))""".stripMargin
    // partial top-candidates per query (negated ADC through the shared
    // TopKAggregator: score desc ≡ distance asc, id-asc tie-break) — only
    // `candidates` rows per (query × partition) reach the shuffle, the
    // same reason bruteForceTopK is not a window (a window here would
    // exchange the whole scored codes scan)
    val topk = udaf(new graft.functions.TopKAggregator(candidates))
    val cand = codes
      .crossJoin(broadcast(q))
      .withColumn("adc", expr(adcExpr))
      .groupBy("q_id")
      .agg(topk(-col("adc"), col("n_id")).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("c"))
      .select(col("q_id"), col("c.id").as("n_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    corpus
      .select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
      .join(broadcast(cand), Seq("n_id"))
      .join(broadcast(q.select(col("q_id"), col("q_vec"))), Seq("q_id"))
      .withColumn("cos", GraftFunctions.cosine_similarity(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** IVF-PQ probe — the composition the large-scale ANN literature ships
    * as its default index (Jégou et al. 2011 §IV "IVFADC"): the coarse
    * IVF quantizer prunes the corpus to `nProbe` cells, and within the
    * probed cells only the PQ CODES are scanned via ADC — the two
    * prunings multiply (cells-probed/cells × m-bytes/vector), so a
    * 100 TB corpus costs `nProbe/nCells` of a few TB of codes per query
    * batch, not a float scan of anything. Candidates are re-scored
    * exactly (same contract as [[pqTopK]]/[[ivfTopK]]: approximation can
    * reorder candidates, never fabricate a neighbor). The coded index is
    * `codes ⋈ (n_id → centroid_id)` — at scale this join is the STORED
    * layout (codes written `partitionBy(centroid_id)` beside the IVF
    * index, so the probe prunes to the probed cells' partitions).
    */
  def ivfPqTopK(
      indexed: DataFrame, // (n_id, n_vec, centroid_id) from ivfIndex
      centroids: DataFrame, // (centroid_id, c_vec)
      codes: DataFrame, // (n_id, codes) from pqEncode
      codebooks: DataFrame, // (sub, code, c_vec) from pqCodebooks
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      m: Int,
      ksub: Int,
      candidates: Int = 32
  ): DataFrame = {
    val probes = ivfPqProbes(centroids, codebooks, queries, idCol, vecCol, nProbe, m, ksub)
    val codedIndex = codes.join(indexed.select("n_id", "centroid_id"), Seq("n_id"))
    ivfPqProbeCore(codedIndex, indexed, probes, k, m, ksub, candidates)
  }

  /** Per-query probe rows for the IVF-PQ path: the `nProbe` nearest
    * centroids per query, each row carrying the query's precomputed ADC
    * table — shared by the per-call-join and stored-layout probe forms.
    */
  private def ivfPqProbes(
      centroids: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int,
      m: Int,
      ksub: Int
  ): DataFrame = {
    // the two PRELIMINARY driver actions — the query-dim head and the
    // codebook collect inside pqLocal — share no inputs, so they run as
    // two concurrent jobs (guide §2.6, the bm25TopKStored pattern): the
    // probe construction pays the slower round-trip, not the sum
    val (cbLit, dim) = Overlap.scope { s =>
      val dimFork = s.fork(queries.select(size(col(vecCol))).head().getInt(0))
      (pqLocal(codebooks, m, ksub), s.await(dimFork))
    }
    require(dim % m == 0, s"m=$m must divide the embedding dim $dim")
    val dsub = dim / m
    val qtabExpr =
      s"""flatten(transform(sequence(0, ${m - 1}), s ->
         |  transform(sequence(0, ${ksub - 1}), c ->
         |    ${pqSubDist("q_vec", "__cb", dsub, "s", "c")})))""".stripMargin
    val wq = Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("centroid_id").asc)
    queries
      .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__cb", cbLit)
      .withColumn("qtab", expr(qtabExpr))
      .drop("__cb")
      .crossJoin(broadcast(centroids))
      .withColumn("c_cos", GraftFunctions.cosine_similarity(col("q_vec"), col("c_vec")))
      .withColumn("c_rank", row_number().over(wq))
      .where(col("c_rank") <= nProbe)
      .select("q_id", "q_vec", "qtab", "centroid_id")
  }

  /** ADC scan + exact re-rank shared by [[ivfPqTopK]] and
    * [[ivfPqTopKStored]]: probe rows join the coded index on
    * `centroid_id`, ADC distances aggregate to partial top-`candidates`
    * per query (k rows per query × partition reach the shuffle, never the
    * probed cells' full scored scan), and candidates re-rank exactly
    * against the raw vectors.
    */
  private def ivfPqProbeCore(
      codedIndex: DataFrame, // (n_id, codes, centroid_id)
      indexed: DataFrame, // (n_id, n_vec, ...) for the exact re-rank
      probes: DataFrame,
      k: Int,
      m: Int,
      ksub: Int,
      candidates: Int
  ): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    val adcExpr =
      s"""aggregate(sequence(0, ${m - 1}), CAST(0.0 AS DOUBLE),
         |  (acc, s) -> acc + element_at(qtab, s * $ksub + element_at(codes, s + 1) + 1))""".stripMargin
    val topk = udaf(new graft.functions.TopKAggregator(candidates))
    val cand = codedIndex
      .join(broadcast(probes), Seq("centroid_id"))
      .withColumn("adc", expr(adcExpr))
      .groupBy("q_id")
      .agg(topk(-col("adc"), col("n_id")).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("c"))
      .select(col("q_id"), col("c.id").as("n_id"))
    val qvecs = probes.select("q_id", "q_vec").dropDuplicates("q_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    indexed
      .select(col("n_id"), col("n_vec"))
      .join(broadcast(cand), Seq("n_id"))
      .join(broadcast(qvecs), Seq("q_id"))
      .withColumn("cos", GraftFunctions.cosine_similarity(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Persist the IVF-PQ coded index in its documented STORED layout:
    * `(n_id, codes)` partitioned by `centroid_id` — the `codes ⋈
    * (n_id → centroid_id)` join is paid ONCE at build, not per probe
    * call, and the partition axis is what lets a probe read only its
    * probed cells' files. This plus the codebook table and the centroid
    * table is the complete on-disk IVFADC index (a few TB of codes for
    * 100 TB of float vectors, laid out so each query batch touches
    * `nProbe / nCells` of it).
    */
  def materializeIvfPqIndex(
      indexed: DataFrame, // (n_id, n_vec, centroid_id) from ivfIndex
      codes: DataFrame, // (n_id, codes) from pqEncode
      path: String
  ): Unit = {
    // cluster by the partition axis before the write: without it every
    // write task fans its rows across ALL centroid_id dirs (tasks ×
    // cells small files — the streaming-store lesson, guide §6); the
    // encode projection runs map-side BEFORE this exchange, so compute
    // parallelism is unchanged and each writer owns whole cells
    codes
      .join(indexed.select("n_id", "centroid_id"), Seq("n_id"))
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    ()
  }

  /** [[ivfPqTopK]] against the [[materializeIvfPqIndex]] STORED layout —
    * the serving path: probed cells are collected (bounded by
    * |queries|·nProbe — the query set is broadcast-small by contract)
    * and pushed as a STATIC partition filter on the coded-index scan, so
    * only the probed `centroid_id=` partitions' files are read
    * (PlanSpec asserts the pruning). The exact re-rank still fetches the
    * candidates' raw vectors from `indexed` (a broadcast-semi point
    * lookup of q·candidates rows).
    */
  def ivfPqTopKStored(
      spark: SparkSession,
      path: String,
      indexed: DataFrame, // (n_id, n_vec, ...) for the exact re-rank
      centroids: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      m: Int,
      ksub: Int,
      candidates: Int = 32
  ): DataFrame = {
    // EAGER checkpoint: the probes subtree (query scan + ADC-table build
    // + centroid ranking window) has THREE consumers — the probed-cells
    // collect below and ivfPqProbeCore's two broadcasts (probe rows and
    // qvecs) — and without materialization each re-evaluated the whole
    // subtree, scanning the query source three times per probe call
    // (guide §5 cache multi-consumer intermediates). Blocks free with
    // the frame (ContextCleaner); probes are bounded by |queries|·nProbe
    // — broadcast-small by this function's own contract.
    val probes = ivfPqProbes(centroids, codebooks, queries, idCol, vecCol, nProbe, m, ksub)
      .localCheckpoint(eager = true)
    val probedCells = probes.select("centroid_id").distinct()
      .collect().map(_.get(0)).toSeq
    val codedIndex = spark.read.parquet(path)
      .where(col("centroid_id").isin(probedCells: _*))
      .withColumn("centroid_id", col("centroid_id").cast("int"))
    ivfPqProbeCore(codedIndex, indexed, probes, k, m, ksub, candidates)
  }

  /** Quantization round-trip summary: per-vector scale, quantized extrema
    * and checksum, and the worst-dimension dequantization error — the
    * columns a quality gate on an index build would watch. Integer parts
    * are exact; the error term is a MAX (not a sum) of doubles, so it is
    * summation-order-independent and reproduces bit-identically on any
    * engine computing the same IEEE ops.
    */
  def quantizeSummary(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // empty vectors yield NULL aggregates (matching SQL list semantics —
    // a fold's zero element is not a statistic of zero observations)
    val nonEmpty = size(col(vecCol)) > 0
    quantizeInt8(df, vecCol).select(
      col(idCol),
      size(col(vecCol)).as("n_dims"),
      round(col("q_scale"), 6).as("scale6"),
      when(nonEmpty, expr("aggregate(q_vec, CAST(0 AS BIGINT), (s, q) -> s + q)")).as("sum_q"),
      when(nonEmpty, expr("aggregate(q_vec, CAST(127 AS INT), (m, q) -> least(m, CAST(q AS INT)))")).as("min_q"),
      when(nonEmpty, expr("aggregate(q_vec, CAST(-127 AS INT), (m, q) -> greatest(m, CAST(q AS INT)))")).as("max_q"),
      when(nonEmpty, round(
        expr(s"aggregate(zip_with(q_vec, $vecCol, (q, x) -> abs(q * q_scale - CAST(x AS DOUBLE))), CAST(0.0 AS DOUBLE), (m, e) -> greatest(m, e))"),
        9
      )).as("err_max9")
    )
  }
}
