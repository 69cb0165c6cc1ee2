package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextOps}
import graft.streaming.{BatchedStore, CdcStream}

/** The on-disk layout markers of every stored index and artifact. Stores
  * and fixture caches written by earlier builds must stay readable, so
  * each marker is pinned byte for byte, not parsed back. */
class BatchedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def bytes(file: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")

  test("marker bytes: every store, artifact and compaction META keeps its exact stamp") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id".cast("long").as("doc_id"), $"text").where($"doc_id" < 40)
    val base = tempDir("markers")
    CdcStream.substringStripApplyBatch(
      docs, 0L, s"$base/gram", s"$base/clean2", k = 10, hashKey = true, numBuckets = 16)
    CdcStream.winnowAdmitApplyBatch(docs, 0L, s"$base/win", s"$base/wstat", "doc_id", "text",
      w = 5, windowSize = 4, minShared = 3, maxDf = 8L, numBuckets = 16, portable = false)
    CdcStream.hammingAdmitApplyBatch(docs.select($"doc_id", xxhash64($"text").as("hh")), 0L,
      s"$base/ham", s"$base/hstat", "doc_id", "hh", radius = 11, blocks = 4, probeBits = 2)
    CdcStream.boilerplateApplyBatch(docs, 0L, s"$base/counts", s"$base/clean1", "doc_id", "text",
      minDocs = 5, sep = "\n", numBuckets = 8)
    CdcStream.bm25IndexApplyBatch(docs, 0L, s"$base/bm25", "doc_id", "text", numBuckets = 8)
    CdcStream.compactBm25Index(spark, s"$base/bm25", upToBatch = 0L, blockSize = 16)
    assert(bytes(s"$base/gram.keyfmt") === "substring_gram:k=10:hash=true:buckets=16:v2")
    assert(bytes(s"$base/win.keyfmt") === "winnow_admit:w=5:ws=4:maxdf=8:b=16:h=xx:v1")
    assert(bytes(s"$base/ham.keyfmt") === "hamming_banded:radius=11:blocks=4:probe=2:v1")
    assert(bytes(s"$base/counts.keyfmt") === "boilerplate:minDocs=5:sep=10:buckets=8:v1")
    assert(bytes(s"$base/bm25/_GRAFT_BM25_INDEX") === "bm25:buckets=8:v2")
    assert(bytes(s"$base/bm25/_GRAFT_BM25_BLOCKMAX") === "bm25bm:block=16:v1")
    // the compaction META rides into the folded partition
    assert(bytes(s"$base/bm25/postings/ingest_batch=0/_GRAFT_COMPACT_META") ===
      "compact:upTo=0:v1")
    // a re-bucketing fold tags its META and re-stamps only the bucket field
    CdcStream.substringStripApplyBatch(docs.select(($"doc_id" + 1000L).as("doc_id"), $"text"),
      1L, s"$base/gram", s"$base/clean2", k = 10, hashKey = true, numBuckets = 16)
    BatchedStore.Gram.compact(spark, s"$base/gram", upToBatch = 1L, newBuckets = Some(32))
    assert(bytes(s"$base/gram/ingest_batch=1/_GRAFT_COMPACT_META") === "compact:upTo=1:rb=32:v1")
    assert(bytes(s"$base/gram.keyfmt") === "substring_gram:k=10:hash=true:buckets=32:v2")

    val embs = Tables.load(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val sem = tempDir("markers_sem")
    Dedup.writeSemanticIndex(Dedup.semanticIndex(embs, "vec_id", "embedding", 4),
      Dedup.semanticSeeds(embs, "vec_id", "embedding", 4), sem)
    assert(bytes(s"$sem/_GRAFT_SEMANTIC_INDEX") === "semantic_index:k=4:v1")
    val win = tempDir("markers_win")
    Dedup.writeWinnowIndex(docs, "doc_id", "text", win, maxDf = 8, buckets = 4)
    assert(bytes(s"$win/_GRAFT_WINNOW_INDEX") === "winnow_index:w=5:ws=4:maxdf=8:b=4:h=xx:v1")
    // and every stamp parses back through the readers that consume it
    assert(BatchedStore.stampedBuckets(spark, s"$base/gram") === Some(32))
    assert(BatchedStore.stampedBuckets(spark, s"$base/ham") === None)
    assert(TextOps.bm25StampedBuckets(spark, s"$base/bm25") === Some(8))
    assert(Dedup.semanticIndexK(spark, sem) === 4)
    assert(Dedup.winnowIndexLayout(spark, win) === ((5, 4, 8L, 4, false)))
  }
}
