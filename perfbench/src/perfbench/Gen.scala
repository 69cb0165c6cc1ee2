package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, Row, SparkSession}

/** Input sizes of one benchmark run. `full` is what the benchmark measures;
  * `tiny` only exercises the code paths (self-tests).
  */
final case class Sizes(
    bfTables: Int, bfRows: Int, bfChurn: Int, bfUpdatePermille: Int, bfRounds: Int,
    trRows: Int, trChanges: Int, trTicks: Int,
    piSeedDocs: Int, piBatchDocs: Int, piBatches: Int, piRefVecs: Int, piPlanted: Int)

object Sizes {
  val full = Sizes(
    bfTables = 2, bfRows = 24000, bfChurn = 1200, bfUpdatePermille = 500, bfRounds = 6,
    trRows = 2000, trChanges = 20, trTicks = 400,
    piSeedDocs = 200, piBatchDocs = 100, piBatches = 12, piRefVecs = 1000, piPlanted = 5)
  val tiny = Sizes(
    bfTables = 2, bfRows = 2000, bfChurn = 100, bfUpdatePermille = 300, bfRounds = 5,
    trRows = 200, trChanges = 5, trTicks = 40,
    piSeedDocs = 200, piBatchDocs = 40, piBatches = 8, piRefVecs = 100, piPlanted = 2)
}

/** Seeded input generator. The same seed gives the same inputs; the engine
  * only ever sees what this object builds.
  */
object Gen {
  val Schema = "public"
  val TableNames = Seq("assets", "orders", "accounts", "devices", "sites")
  /** Event ids start here so every id has ten digits: the topic `key`
    * (the id as a string) then orders like the id itself.
    */
  val IdBase = 1000000000L
  val Day0Ms: Long = java.time.Instant.parse("2025-01-01T00:00:00Z").toEpochMilli

  /** Row schema shared by every watched table. */
  val tableSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sku", StringType),
    StructField("qty", IntegerType),
    StructField("price", DoubleType),
    StructField("note", StringType),
    StructField("updated_ms", LongType)))

  def ts(second: Long): java.sql.Timestamp = new java.sql.Timestamp(Day0Ms + second * 1000L)

  // ---- cdc_backfill: every snapshot version of every table ---------------

  /** Writes version v (0..bfRounds) of table t to `<path>/t=<t>/v=<v>`.
    * Version v holds ids [v·churn, rows + v·churn): round v deletes the
    * `churn` lowest ids, inserts `churn` new ones and updates each other
    * row with probability bfUpdatePermille/1000. A row's values are a hash
    * of (seed, table, id, last version that updated it), so each version
    * is computed independently, in one Spark job for all of them.
    */
  def writeSnapshots(spark: SparkSession, seed: Long, s: Sizes, path: String): Unit = {
    val seedL = lit(seed)
    def updated(u: Int): Column =
      col("v") >= u && pmod(xxhash64(seedL, col("t"), col("id"), lit(u)), lit(1000L)) < s.bfUpdatePermille
    val ver = greatest(lit(0) +: (1 to s.bfRounds).map(u => when(updated(u), lit(u))): _*)
    val h = xxhash64(seedL, col("t"), col("id"), col("ver"))
    spark.range(0, s.bfTables).toDF("t")
      .crossJoin(spark.range(0, s.bfRounds + 1L).toDF("v"))
      .crossJoin(spark.range(0, s.bfRows.toLong).toDF("k"))
      .select(col("t"), col("v"), (col("k") + col("v") * s.bfChurn).as("id"))
      .withColumn("ver", ver)
      .select(
        col("t"), col("v"), col("id"),
        concat(lit("sku-"), hex(h)).as("sku"),
        pmod(h, lit(1000L)).cast("int").as("qty"),
        (pmod(shiftright(h, 10), lit(100000L)) / 100.0).as("price"),
        substring(sha2(h.cast("string"), 256), 1, 48).as("note"),
        (lit(Day0Ms) + col("ver") * 1000L).as("updated_ms"))
      .repartition(col("t"), col("v"))
      .write.mode("overwrite").partitionBy("t", "v").parquet(path)
  }

  // ---- cdc_trickle: small explicit change sets ---------------------------

  /** One commit: the before-images and after-images of the rows it
    * touches (`events` rows change, every one of them for real).
    */
  final case class Tick(prev: Seq[Row], cur: Seq[Row], events: Int)

  private def randomRow(rng: SplittableRandom, id: Long): Row = {
    val h = rng.nextLong()
    Row(id, f"sku-$h%016x", rng.nextInt(1000), rng.nextInt(100000) / 100.0,
      java.lang.Long.toString(rng.nextLong() & Long.MaxValue, 36), Day0Ms + rng.nextInt(1 << 30))
  }

  /** The initial rows of the trickled table and `trTicks` commits, each
    * updating `trChanges` live rows, deleting one and inserting one.
    */
  def ticks(seed: Long, s: Sizes): (Seq[Row], IndexedSeq[Tick]) = {
    val rng = new SplittableRandom(seed ^ 0x7A1C4E5L)
    val live = mutable.LinkedHashMap.empty[Long, Row]
    (0L until s.trRows.toLong).foreach(id => live(id) = randomRow(rng, id))
    val initial = live.values.toSeq
    var nextId = s.trRows.toLong
    val ticks = (0 until s.trTicks).map { _ =>
      val ids = live.keys.toIndexedSeq
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < s.trChanges + 1) picked += ids(rng.nextInt(ids.size))
      val upd = picked.toSeq.take(s.trChanges)
      val del = picked.last
      val prev = (upd :+ del).map(live)
      val after = upd.map(id => randomRow(rng, id)) :+ randomRow(rng, nextId)
      live.remove(del)
      after.foreach(r => live(r.getLong(0)) = r)
      nextId += 1
      Tick(prev, after, s.trChanges + 2)
    }
    (initial, ticks)
  }

  // ---- pipeline_ingest: documents with planted duplicates ----------------

  /** `kind` is "unique" or the stage a planted duplicate must be caught by. */
  final case class Doc(id: Long, text: String, hh: Long, emb: Array[Float], kind: String)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("hh", LongType),
    StructField("emb", ArrayType(FloatType, containsNull = false))))

  val Dim = 64
  val SemanticCells = 16
  val Radius = 11
  val PlantedKinds = Seq("exact_dup", "near_dup", "sketch_dup", "semantic_dup")

  /** The fixed reference set of the semantic screen, then batch 0 (the
    * seed the stores are built from, all unique) and `piBatches` batches of
    * `piBatchDocs` documents with `piPlanted` planted duplicates of each
    * kind:
    *   - exact_dup: a seed document copied whole (text, sketch, embedding);
    *   - near_dup: a seed body with every 8th word replaced — shared 7-word
    *     runs, below the 10-word substring gram, above the 6 words a
    *     winnowing fingerprint spans — with a fresh sketch and embedding;
    *   - sketch_dup: fresh text, a seed sketch with 2 bits flipped;
    *   - semantic_dup: fresh text and sketch, a reference embedding plus
    *     small noise, both clearly inside the same cell of the screen.
    * Unique sketches are redrawn until no other sketch lies within the
    * Hamming radius, so every unique must be admitted.
    */
  def docs(seed: Long, s: Sizes): (Seq[(Long, Array[Float])], IndexedSeq[Seq[Doc]]) = {
    val rng = new SplittableRandom(seed ^ 0x51DEC0DEL)
    def unitVec(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def gaussian(): Double = {
      // Box-Muller, written out so the draws do not depend on the JDK's
      // nextGaussian algorithm
      val u = 1.0 - rng.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
    def randomVec(): Array[Float] = unitVec(Array.fill(Dim)(gaussian()))
    val ref = (0 until s.piRefVecs).map(i => (i.toLong, randomVec()))
    // the screen probes only the cell of the nearest seed (the SemanticCells
    // lowest reference ids); a planted duplicate must land in the cell of
    // its reference vector with a clear margin, or missing it is by design
    val seeds = ref.take(SemanticCells).map(_._2)
    def cells(v: Array[Float]): Seq[(Double, Int)] =
      seeds.zipWithIndex.map { case (c, j) => (v.indices.map(i => v(i) * c(i).toDouble).sum, j) }.sortBy(-_._1)
    def nearReference(): Array[Float] = {
      var out: Array[Float] = null
      while (out == null) {
        val r = ref(rng.nextInt(ref.size))._2
        val v = unitVec(r.map(x => x + 0.01 * gaussian()))
        val (cr, cv) = (cells(r), cells(v))
        if (cr.head._2 == cv.head._2 && cr.head._1 - cr(1)._1 > 0.05 && cv.head._1 - cv(1)._1 > 0.05) out = v
      }
      out
    }
    def word(): String = "w" + Integer.toString(rng.nextInt(1 << 22), 36)
    val boilers = (0 until 3).map(_ => Seq.fill(12)(word()).mkString(" "))
    def text(body: Seq[String]): String = {
      val b = body.mkString(" ")
      if (rng.nextInt(10) < 3) b + "\n" + boilers(rng.nextInt(boilers.size)) else b
    }
    val sketches = mutable.ArrayBuffer.empty[Long]
    def uniqueSketch(): Long = {
      var h = rng.nextLong()
      // Radius + 2: a sketch_dup lies 2 bits from its original, so a unique
      // must clear every sketch by more than that
      while (sketches.exists(x => java.lang.Long.bitCount(x ^ h) <= Radius + 2)) h = rng.nextLong()
      sketches += h
      h
    }
    val seedBodies = mutable.ArrayBuffer.empty[(Seq[String], Doc)]
    def fresh(kind: String, hh: Long, emb: Array[Float]): (Seq[String], Doc) = {
      val body = Seq.fill(64)(word())
      (body, Doc(-1L, text(body), hh, emb, kind))
    }
    val batch0 = (0 until s.piSeedDocs).map { i =>
      val (body, d) = fresh("unique", uniqueSketch(), randomVec())
      val doc = d.copy(id = i.toLong)
      seedBodies += ((body, doc))
      doc
    }
    var nextId = s.piSeedDocs.toLong
    def pick(): (Seq[String], Doc) = seedBodies(rng.nextInt(seedBodies.size))
    val batches = (1 to s.piBatches).map { _ =>
      val kinds = (Seq.fill(s.piBatchDocs - PlantedKinds.size * s.piPlanted)("unique") ++
        PlantedKinds.flatMap(k => Seq.fill(s.piPlanted)(k))).toArray
      // Fisher-Yates, so planted documents sit anywhere in the batch
      for (i <- kinds.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
      }
      kinds.toSeq.map { kind =>
        val d = kind match {
          case "unique" => fresh(kind, uniqueSketch(), randomVec())._2
          case "exact_dup" =>
            val o = pick()._2
            Doc(-1L, o.text, o.hh, o.emb, kind)
          case "near_dup" =>
            val (body, _) = pick()
            val mutated = body.zipWithIndex.map { case (w, i) => if (i % 8 == 7) word() else w }
            Doc(-1L, text(mutated), uniqueSketch(), randomVec(), kind)
          case "sketch_dup" =>
            val o = pick()._2
            val b1 = rng.nextInt(64)
            var b2 = rng.nextInt(64)
            while (b2 == b1) b2 = rng.nextInt(64)
            val hh = o.hh ^ (1L << b1) ^ (1L << b2)
            sketches += hh
            fresh(kind, hh, randomVec())._2
          case _ => // semantic_dup
            fresh(kind, uniqueSketch(), nearReference())._2
        }
        nextId += 1
        d.copy(id = nextId - 1)
      }
    }
    (ref, batch0 +: batches)
  }
}
