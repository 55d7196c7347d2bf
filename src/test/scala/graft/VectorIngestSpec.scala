package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityInt
import graft.streaming.VectorIngest

/** Vector-ingest contract: bootstrap trains frozen centroids, appends
  * cluster against them, the materialized index answers queries
  * exactly as the composed integer operators would, and replays are
  * idempotent. */
class VectorIngestSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val emb = Tables.embeddings(spark, SparkTestSession.sf)
  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet

  test("bootstrap + append: index equals frozen-centroid composition; queries match") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_vec_idx").toString
    val wave1 = emb.filter($"vec_id" < 250)
    val wave2 = emb.filter($"vec_id" >= 250)
    VectorIngest.processBatch(wave1, outDir, 0L)
    VectorIngest.processBatch(wave2, outDir, 1L)

    val idx = VectorIngest.readIndex(spark, outDir).get
    // centroids are wave-1's deterministic training, frozen
    val cents = SimilarityInt.ivfTrainInt(SimilarityInt.zCodes(wave1),
      nlist = 32, iters = 2, seed = 42L, memoKey = "vecspec:boot")
    assert(rows(idx.centroids) == rows(cents))
    // every vector is in exactly one list
    assert(idx.lists.count() == emb.count())
    assert(idx.lists.select("vid").distinct().count() == emb.count())
    // queries against the materialized index == the composed
    // frozen-centroid expectation over the full corpus
    val queries = emb.filter($"vec_id" < 10)
    val got = rows(VectorIngest.topK(spark, outDir, queries, k = 10))
    val z = SimilarityInt.zCodes(emb)
    val exp = rows(SimilarityInt.ivfTopKInt(
      SimilarityInt.IntIvfIndex(cents, SimilarityInt.ivfAssignInt(cents, z)),
      SimilarityInt.zCodes(queries), z, k = 10, nprobe = 4))
    assert(got.nonEmpty && got == exp)
  }

  test("append replay is idempotent against the frozen centroids") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_vec_rep").toString
    VectorIngest.processBatch(emb.filter($"vec_id" < 250), outDir, 0L)
    VectorIngest.processBatch(emb.filter($"vec_id" >= 250), outDir, 1L)
    val once = rows(VectorIngest.readIndex(spark, outDir).get.lists)
    // crash-replay of both batches in order
    VectorIngest.processBatch(emb.filter($"vec_id" < 250), outDir, 0L)
    VectorIngest.processBatch(emb.filter($"vec_id" >= 250), outDir, 1L)
    val twice = rows(VectorIngest.readIndex(spark, outDir).get.lists)
    assert(once == twice)
  }

  test("PQ ingest: bootstrap freezes coarse+codebook tables, appends encode against them, replay idempotent") {
    graft.ops.Memo.clear(spark)
    val outDir = java.nio.file.Files.createTempDirectory("graft_vec_pq").toString
    val wave1 = emb.filter($"vec_id" < 250)
    val wave2 = emb.filter($"vec_id" >= 250)
    VectorIngest.processBatchPq(wave1, outDir, 0L, nlist = 16, m = 4, ksub = 8)
    VectorIngest.processBatchPq(wave2, outDir, 0L + 1, nlist = 16, m = 4, ksub = 8)

    val idx = VectorIngest.readPqIndex(spark, outDir).get
    // the codebook handle is self-describing: dials recovered from the
    // persisted table
    assert(idx.codebook.m == 4 && idx.codebook.ksub <= 8)
    // every vector has exactly m code rows
    assert(idx.codes.count() == emb.count() * 4)
    assert(idx.codes.select("vid").distinct().count() == emb.count())

    // queries against the materialized index == the composed
    // frozen-table expectation over the full corpus
    graft.ops.Memo.clear(spark)
    val queries = emb.filter($"vec_id" < 10)
    val got = rows(VectorIngest.topKPq(spark, outDir, queries, emb, k = 10,
      nprobe = 8, rerank = 40))
    val z = SimilarityInt.zCodes(emb)
    val boot = SimilarityInt.ivfPqBuildInt(SimilarityInt.zCodes(wave1),
      nlist = 16, m = 4, ksub = 8, iters = 2, seed = 42L, memoKey = "vecspec:pqboot")
    assert(rows(idx.centroids) == rows(boot.centroids))
    assert(rows(idx.codebook.centroids) == rows(boot.codebook.centroids))
    val expIdx = SimilarityInt.IntIvfPqIndex(boot.centroids, boot.codebook,
      SimilarityInt.ivfPqAssignInt(boot.centroids, boot.codebook, z))
    val exp = rows(SimilarityInt.ivfPqTopKInt(expIdx, SimilarityInt.zCodes(queries),
      z, k = 10, nprobe = 8, rerank = 40))
    assert(got.nonEmpty && got == exp)

    // crash-replay of both batches: bit-identical code rows
    val once = rows(idx.codes)
    VectorIngest.processBatchPq(wave1, outDir, 0L, nlist = 16, m = 4, ksub = 8)
    VectorIngest.processBatchPq(wave2, outDir, 1L, nlist = 16, m = 4, ksub = 8)
    val twice = rows(VectorIngest.readPqIndex(spark, outDir).get.codes)
    assert(once == twice)
  }

  test("PQ bootstrap crash-replay: centroids are the commit marker — a partial bootstrap (codebook written, marker not) retrains instead of failing") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_vec_crash").toString
    val wave1 = emb.filter($"vec_id" < 250)
    VectorIngest.processBatchPq(wave1, outDir, 0L, nlist = 16, m = 4, ksub = 8)
    val whole = rows(VectorIngest.readPqIndex(spark, outDir).get.centroids)
    // simulate the only crash-reachable partial state under the
    // codebook-before-marker write order: codebook persisted, centroid
    // commit marker not (the inverse order left marker-present/
    // codebook-missing, where every replay died in readCodebook)
    val conf = spark.sessionState.newHadoopConf()
    val cent = new org.apache.hadoop.fs.Path(s"$outDir/pqindex/centroids")
    val fs = cent.getFileSystem(conf)
    assert(fs.delete(cent, true))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/pqindex/codebook")))
    // replay must take the TRAIN branch and leave a whole, queryable index
    VectorIngest.processBatchPq(wave1, outDir, 0L, nlist = 16, m = 4, ksub = 8)
    val idx = VectorIngest.readPqIndex(spark, outDir).get
    assert(whole.nonEmpty && rows(idx.centroids) == whole)
    assert(idx.codes.select("vid").distinct().count() == wave1.count())
  }

  test("single-batch ingest builds the same index as ivfBuildInt") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_vec_one").toString
    VectorIngest.processBatch(emb, outDir, 0L, nlist = 16)
    val idx = VectorIngest.readIndex(spark, outDir).get
    val z = SimilarityInt.zCodes(emb)
    val built = SimilarityInt.ivfBuildInt(z, nlist = 16, iters = 2, seed = 42L,
      memoKey = "vecspec:one")
    assert(rows(idx.centroids) == rows(built.centroids))
    assert(rows(idx.lists) == rows(built.lists))
    val queries = emb.filter($"vec_id" < 10)
    assert(rows(VectorIngest.topK(spark, outDir, queries, k = 10)) ==
      rows(SimilarityInt.ivfTopKInt(built, SimilarityInt.zCodes(queries), z,
        k = 10, nprobe = 4)))
  }
}
