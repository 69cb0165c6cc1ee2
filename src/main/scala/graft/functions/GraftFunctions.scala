package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

/** Registration + Column-API surface for the engine's custom expressions.
  *
  * Two registration paths:
  *   - [[GraftFunctions.register]] on a live session (used by queries/tests)
  *   - [[GraftExtensions]] via `spark.sql.extensions` /
  *     `.withExtensions(new GraftExtensions)` for cluster deployments
  */
object GraftFunctions {

  private def intLit(e: Expression): Int =
    e.eval(null) match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => throw new IllegalArgumentException(s"expected int literal, got $other")
    }

  private def stringSeqLit(e: Expression): Seq[String] =
    e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
          .toSeq
      case other => throw new IllegalArgumentException(s"expected array<string> literal, got $other")
    }

  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> { es: Seq[Expression] => CosineSimilarity(es(0), es(1)) },
    "dot_product" -> { es: Seq[Expression] => DotProduct(es(0), es(1)) },
    "word_shingles" -> { es: Seq[Expression] => WordShingles(es(0), intLit(es(1))) },
    "hashed_array" -> { es: Seq[Expression] => HashedArray(es(0)) },
    "minhash_agg" -> { es: Seq[Expression] => MinHashAgg(es(0), intLit(es(1))) },
    "simhash_agg" -> { es: Seq[Expression] => SimHashAgg(es(0)) },
    "minhash_shingles" -> { es: Seq[Expression] => MinHashShingles(es(0), intLit(es(1))) },
    "simhash_shingles" -> { es: Seq[Expression] => SimHashShingles(es(0)) },
    "word_gram_hashes" -> { es: Seq[Expression] => WordGramHashes(es(0), intLit(es(1))) },
    "winnowed_fingerprints" -> { es: Seq[Expression] => WinnowedFingerprints(es(0), intLit(es(1)), intLit(es(2))) },
    "space_saving_agg" -> { es: Seq[Expression] => SpaceSavingAgg(es(0), intLit(es(1))) },
    "udd_sketch_agg" -> { es: Seq[Expression] => UddSketchAgg(es(0)) },
    "udd_merge_agg" -> { es: Seq[Expression] => UddMergeAgg(es(0)) },
    "udd_quantile" -> { es: Seq[Expression] => UddQuantile(es(0), es(1)) },
    "udd_rank" -> { es: Seq[Expression] => UddRank(es(0), es(1)) },
    "tdigest_agg" -> { es: Seq[Expression] => TDigestAgg(es(0)) },
    "tdigest_merge_agg" -> { es: Seq[Expression] => TDigestMergeAgg(es(0)) },
    "tdigest_quantile" -> { es: Seq[Expression] => TDigestQuantile(es(0), es(1)) },
    "tdigest_rank" -> { es: Seq[Expression] => TDigestRank(es(0), es(1)) },
    "srp_bucket" -> { es: Seq[Expression] => SrpBucket(es(0), intLit(es(1)), intLit(es(2))) },
    "srp_bands" -> { es: Seq[Expression] =>
      SrpBands(es(0), intLit(es(1)), intLit(es(2)), intLit(es(3)))
    },
    "count_in_set" -> { es: Seq[Expression] => CountInSet(es(0), stringSeqLit(es(1))) },
    "prefix_sum" -> { es: Seq[Expression] => PrefixSumLongs(es(0), es(1)) },
    "top_shingle_count" -> { es: Seq[Expression] => TopShingleCount(es(0), intLit(es(1))) },
    // Spark's own runtime-filter expressions (the pair InjectRuntimeFilter
    // plants around shuffle joins), surfaced by name: Spark 4 ships them
    // unregistered, so the explicit bloom-prefilter operators
    // (TextOps.contaminationBloom) reach them through the registry like any
    // other engine function. Not reimplementations — the classes ARE
    // org.apache.spark.sql.catalyst.expressions.{aggregate.BloomFilterAggregate,
    // BloomFilterMightContain}.
    "bloom_filter_agg" -> { es: Seq[Expression] =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(es(0), es(1), es(2))
    },
    "might_contain" -> { es: Seq[Expression] =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))
    }
  )

  /** Idempotent: a name whose registry entry is already THIS builder (by
    * reference — a re-registration, or a session cloned from a
    * registered one) is skipped, so per-query calls neither churn the
    * registry nor log a replacement each time. Any other entry under the
    * name is replaced, and Spark logs that replacement. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq b))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  /** Cosine similarity of two `array<float>` columns (codegen'd). The
    * session must have called [[register]] (all graft query entry points do).
    */
  def cosine_similarity(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  def dot_product(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** One-pass distinct word n-gram shingles (see [[WordShingles]]). */
  def word_shingles(text: Column, n: Int): Column =
    call_function("word_shingles", text, org.apache.spark.sql.functions.lit(n))

  /** Mode count of the word n-shingle sequence (see [[TopShingleCount]]). */
  def top_shingle_count(text: Column, n: Int): Column =
    call_function("top_shingle_count", text, org.apache.spark.sql.functions.lit(n))

  /** Per-element xxhash64 (seed 42, matching the builtin) of array<string>. */
  def hashed_array(arr: Column): Column =
    call_function("hashed_array", arr)

  /** Running sum over a delta array: `out(0)=init, out(i)=out(i-1)+arr(i-1)`
    * (length n+1; codegen'd — see [[PrefixSumLongs]]).
    */
  def prefix_sum(arr: Column, init: Column): Column =
    call_function("prefix_sum", arr, init)

  /** MinHash signature aggregate over exploded shingle strings. */
  def minhash_agg(shingle: Column, numHashes: Int): Column =
    call_function("minhash_agg", shingle, org.apache.spark.sql.functions.lit(numHashes))

  /** SimHash sketch aggregate over exploded shingle strings. */
  def simhash_agg(shingle: Column): Column =
    call_function("simhash_agg", shingle)

  /** MinHash signature of a whole shingle array in one scalar map pass
    * — bit-identical to [[minhash_agg]] over the exploded array (see
    * [[MinHashShingles]]).
    */
  def minhash_shingles(shingles: Column, numHashes: Int): Column =
    call_function("minhash_shingles", shingles, org.apache.spark.sql.functions.lit(numHashes))

  /** SimHash of a whole shingle array in one scalar map pass —
    * bit-identical to [[simhash_agg]] over the exploded array (see
    * [[SimHashShingles]]).
    */
  def simhash_shingles(shingles: Column): Column =
    call_function("simhash_shingles", shingles)

  /** Positional k-word gram hashes in one pass (see [[WordGramHashes]]):
    * element i = the builtin xxhash64 of the k-word gram at token i.
    */
  def word_gram_hashes(text: Column, k: Int): Column =
    call_function("word_gram_hashes", text, org.apache.spark.sql.functions.lit(k))

  /** Winnowing-selected fingerprints in one pass (see
    * [[WinnowedFingerprints]]) — the production xxhash64 layout of
    * Dedup.winnowingPostings as a single scalar expression.
    */
  def winnowed_fingerprints(text: Column, w: Int, windowSize: Int): Column =
    call_function("winnowed_fingerprints", text,
      org.apache.spark.sql.functions.lit(w), org.apache.spark.sql.functions.lit(windowSize))

  /** Space-saving heavy-hitter summary of a string column (see
    * [[SpaceSavingAgg]]): fixed-k counters with no-undercount /
    * bounded-overcount guarantees, exact when k ≥ distinct.
    */
  def space_saving_agg(item: Column, k: Int): Column =
    call_function("space_saving_agg", item, org.apache.spark.sql.functions.lit(k))

  /** UDDSketch mergeable-quantile state of a double column (see
    * [[UddSketchAgg]]); roll levels up with [[udd_merge_agg]], read with
    * [[udd_quantile]].
    */
  def udd_sketch_agg(value: Column): Column =
    call_function("udd_sketch_agg", value)

  def udd_merge_agg(sketch: Column): Column =
    call_function("udd_merge_agg", sketch)

  def udd_quantile(sketch: Column, p: Double): Column =
    call_function("udd_quantile", sketch, org.apache.spark.sql.functions.lit(p))

  def udd_rank(sketch: Column, x: Column): Column =
    call_function("udd_rank", sketch, x.cast("double"))

  /** t-digest mergeable-quantile state of a double column (see
    * [[TDigestAgg]]) — the rank-space twin of [[udd_sketch_agg]]; roll
    * levels up with [[tdigest_merge_agg]], read with [[tdigest_quantile]].
    */
  def tdigest_agg(value: Column): Column =
    call_function("tdigest_agg", value)

  def tdigest_merge_agg(sketch: Column): Column =
    call_function("tdigest_merge_agg", sketch)

  def tdigest_quantile(sketch: Column, p: Double): Column =
    call_function("tdigest_quantile", sketch, org.apache.spark.sql.functions.lit(p))

  def tdigest_rank(sketch: Column, x: Column): Column =
    call_function("tdigest_rank", sketch, x.cast("double"))

  /** Timescale's saturating int32 arithmetic — overflow clamps to the
    * int32 bounds instead of wrapping (and the `_pos` forms additionally
    * floor at 0): compute in LONG (i32 ops cannot overflow a long), clamp,
    * narrow. Pure codegen'd expressions, no UDF.
    */
  private def clamp32(x: Column): Column = {
    import org.apache.spark.sql.functions.{greatest, least, lit}
    greatest(least(x, lit(2147483647L)), lit(-2147483648L)).cast("int")
  }

  def saturating_add(a: Column, b: Column): Column = clamp32(a.cast("long") + b.cast("long"))
  def saturating_sub(a: Column, b: Column): Column = clamp32(a.cast("long") - b.cast("long"))
  def saturating_mul(a: Column, b: Column): Column = clamp32(a.cast("long") * b.cast("long"))

  def saturating_add_pos(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{greatest, lit}
    greatest(saturating_add(a, b), lit(0)).cast("int")
  }

  def saturating_sub_pos(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{greatest, lit}
    greatest(saturating_sub(a, b), lit(0)).cast("int")
  }

  /** SRP-LSH bucket id over `numPlanes` pseudo-random hyperplanes
    * (codegen'd; see [[SrpBucket]]).
    */
  def srp_bucket(vec: Column, numPlanes: Int, seed: Int): Column =
    call_function(
      "srp_bucket",
      vec,
      org.apache.spark.sql.functions.lit(numPlanes),
      org.apache.spark.sql.functions.lit(seed)
    )

  /** All `bands` SRP band signatures in one vector pass — element `b` is
    * bit-identical to `srp_bucket(vec, bitsPerBand, seed + 1 + b)`
    * (codegen'd; see [[SrpBands]]).
    */
  def srp_bands(vec: Column, bands: Int, bitsPerBand: Int, seed: Int): Column =
    call_function(
      "srp_bands",
      vec,
      org.apache.spark.sql.functions.lit(bands),
      org.apache.spark.sql.functions.lit(bitsPerBand),
      org.apache.spark.sql.functions.lit(seed)
    )

  /** Occurrence count of array<string> elements within a fixed set
    * (codegen'd; see [[CountInSet]]).
    */
  def count_in_set(arr: Column, set: Seq[String]): Column =
    call_function("count_in_set", arr, org.apache.spark.sql.functions.lit(set.toArray))

  /** Bloom filter aggregate over a LONG column (hash keys with xxhash64
    * first). Returns the serialized filter as binary; probe it with
    * [[might_contain]]. `numBits` from
    * `org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits`.
    */
  def bloom_filter_agg(hashed: Column, expectedItems: Long, numBits: Long): Column =
    call_function(
      "bloom_filter_agg",
      hashed,
      org.apache.spark.sql.functions.lit(expectedItems),
      org.apache.spark.sql.functions.lit(numBits)
    )

  /** Membership probe against a serialized bloom filter binary (constant or
    * scalar subquery — Spark rejects per-row filter inputs). No false
    * negatives; false-positive rate set at build time.
    */
  def might_contain(bloom: Column, hashed: Column): Column =
    call_function("might_contain", bloom, hashed)
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // the full registry, not a hand-picked subset: a cluster deployment via
    // spark.sql.extensions must resolve exactly what register() resolves
    GraftFunctions.builders.foreach { case (name, b) =>
      e.injectFunction(
        (
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftFunctions.type].getName, name),
          b
        )
      )
    }
    // equi-keyless bounded-interval joins → bucketed equi-joins (the
    // nested-loop escape hatch; see the rule's scaladoc for the shape)
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // transparent continuous-aggregate rewrite: coarse time-bucket
    // aggregates over a registered raw table are served from its
    // materialized finer rollup (Timescale real-time-aggregate behavior)
    e.injectOptimizerRule(_ => graft.plans.RollupRewrite)
    // plans the AsOfJoinNode custom operator (sorted-merge as-of exec)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
