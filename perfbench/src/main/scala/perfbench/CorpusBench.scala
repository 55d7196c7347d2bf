package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.CorpusMain
import graft.operators.{Dedup, Sharding, TextAnalysis}
import graft.streaming.CorpusIngest

/** Seeded training corpora built from the vendored `documents` fixture:
  * content-unique copies plus planted exact duplicates and planted
  * near-duplicate clusters. */
object CorpusGen {

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Copies of the fixture; copy i > 0 suffixes every token with `x<i>`,
    * so copies share no shingle with each other. */
  val Copies = 2
  /** Share of docs that get one exact copy (new id, same text); the
    * count is exact, the seed picks the docs. */
  val ExactDupRate = 0.05
  /** Share of docs that seed a near-duplicate cluster of
    * [[VariantsPerCluster]] variants, each with about one token in
    * [[TokensPerEdit]] replaced. */
  val NearDupRate = 0.05
  val VariantsPerCluster = 2
  val TokensPerEdit = 25

  val ExactIdBase = 900000000L
  val VariantIdBase = 800000000L

  final case class Corpus(docs: Seq[Doc], exactPairs: Seq[(Long, Long)],
                          clusters: Seq[(Long, Seq[Long])])

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def base(spark: SparkSession, root: Path): Seq[Doc] =
    spark.read.parquet(root.resolve("perfbench/data/corpus_documents.parquet").toString)
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_.id).toSeq

  private val token = "([A-Za-z0-9]+)".r

  def copies(base: Seq[Doc], n: Int): Seq[Doc] =
    (0 until n).flatMap { i =>
      base.map(d => d.copy(id = d.id + i * 10000000L,
        text = if (i == 0) d.text else token.replaceAllIn(d.text, m => s"${m.group(1)}x$i")))
    }

  /** Replace about one token in [[TokensPerEdit]] with another token of
    * the same document: same vocabulary, few changed shingles. */
  def edit(text: String, rnd: SplittableRandom): String = {
    val toks = text.split(" ")
    val edits = math.max(1, toks.length / TokensPerEdit)
    (0 until edits).foreach { _ =>
      val i = rnd.nextInt(toks.length)
      val alts = toks.filter(_ != toks(i))
      if (alts.nonEmpty) toks(i) = alts(rnd.nextInt(alts.length))
    }
    toks.mkString(" ")
  }

  /** Plants exactly [[ExactDupRate]] and [[NearDupRate]] of `docs`'
    * count; the seed picks which docs and which tokens. */
  def plant(docs: Seq[Doc], seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed)
    val order = shuffledIndices(docs.size, rnd)
    val nExact = math.round(docs.size * ExactDupRate).toInt
    val nNear = math.round(docs.size * NearDupRate).toInt
    val exactDocs = order.take(nExact).sorted.map(docs)
    val nearDocs = order.slice(nExact, nExact + nNear).sorted.map(docs)
    val exact = exactDocs.zipWithIndex.map { case (d, i) => d.copy(id = ExactIdBase + i) }
    val variants = nearDocs.zipWithIndex.map { case (d, i) =>
      (0 until VariantsPerCluster).map(v => d.copy(
        id = VariantIdBase + i * VariantsPerCluster + v, text = edit(d.text, rnd)))
    }
    Corpus(docs ++ exact ++ variants.flatten,
      exactDocs.map(_.id).zip(exact.map(_.id)),
      nearDocs.map(_.id).zip(variants.map(_.map(_.id))))
  }

  private def shuffledIndices(n: Int, rnd: SplittableRandom): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  def write(spark: SparkSession, docs: Seq[Doc], path: String): Unit = {
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(path)
  }

  def tokens(text: String): Long = text.split(" ", -1).length.toLong
}

/** `corpus_batch`: one-shot CorpusMain.run over a planted corpus. */
object CorpusBatchBench extends Workload {
  type In = Inputs
  import CorpusGen._

  /** Share of planted near-duplicates CorpusMain must remove. One edit
    * in 25 tokens changes at most 3 of a doc's shingles per edit, so a
    * variant keeps Jaccard >= 0.79 to its seed, which the default 4 LSH
    * bands of 4 rows catch with probability >= 0.85; 0.8 leaves three
    * standard deviations for the ~500 variants judged. */
  val NearDupRecallFloor = 0.8
  val TokenBudget = 5000L

  final case class Inputs(path: String, corpus: Corpus)

  def prepare(spark: SparkSession, seed: Long, dir: Path, root: Path): Inputs = {
    val corpus = plant(copies(base(spark, root), Copies), seed)
    val path = dir.resolve("docs.parquet").toString
    write(spark, corpus.docs, path)
    Inputs(path, corpus)
  }

  private def run(env: Env, in: Inputs, out: Path): CorpusMain.Report =
    CorpusMain.run(env.spark, in.path, out.toString, tokenBudget = TokenBudget)

  /** Checks on the written shards. */
  def check(spark: SparkSession, in: Inputs, corpusDir: String,
            report: Option[CorpusMain.Report]): Option[String] = {
    val rows = spark.read.parquet(corpusDir)
      .select(col("doc_id"), col("text"), col("n_tokens"), col("shard_id")).collect()
    val ids = rows.map(_.getLong(0)).toSet
    val texts = rows.map(_.getString(1))
    val tokenSum = texts.map(tokens).sum
    val nTokensCol = rows.map(_.getLong(2)).sum
    val nShards = rows.map(_.get(3)).distinct.length.toLong
    val exactLeft = in.corpus.exactPairs.count { case (_, d) => ids(d) }
    val judged = in.corpus.clusters.filter { case (s, _) => ids(s) }
    val variants = judged.map(_._2.size).sum
    val missed = judged.map(_._2.count(ids)).sum
    val recall = if (variants == 0) 1.0 else 1.0 - missed.toDouble / variants
    if (texts.distinct.length != texts.length) Some("identical texts survive dedup")
    else if (exactLeft > 0) Some(s"$exactLeft planted exact duplicates survive")
    else if (recall < NearDupRecallFloor)
      Some(f"near-duplicate recall $recall%.3f below $NearDupRecallFloor")
    else if (tokenSum != nTokensCol) Some(s"shard n_tokens sum $nTokensCol != $tokenSum")
    else report.flatMap { r =>
      if (r.totalTokens != tokenSum) Some(s"report tokens ${r.totalTokens} != $tokenSum")
      else if (r.nShards != nShards) Some(s"report shards ${r.nShards} != $nShards")
      else if (r.nInput != in.corpus.docs.size) Some(s"report input ${r.nInput}")
      else None
    }
  }

  /** One operation is one CorpusMain.run. Its CPU time gives the work
    * per CPU second and its wall time the latency, which also sees lost
    * parallelism and waits. */
  def untraced(env: Env, in: Inputs): Unit = {
    val costs = passes(env, in, env.seconds)
    env.put("work_per_cpu_s", in.corpus.docs.size / Util.median(costs.map(_.appCpu)))
    env.put("op_p50_ms", Util.median(costs.map(_.wall)) * 1000)
  }

  /** One CorpusMain.run, unchecked, so the measured passes run warm. */
  def warmup(env: Env, in: Inputs): Unit = {
    val out = env.dir("warmup")
    run(env, in, out)
    env.spark.catalog.clearCache()
    Util.deleteTree(out)
  }

  /** CorpusMain.run passes until the budget is spent, at least one. */
  private def passes(env: Env, in: Inputs, budget: Double): Seq[Util.Cost] = {
    val times = mutable.ArrayBuffer.empty[Util.Cost]
    val t0 = Util.now()
    while (times.isEmpty || Util.secs(t0) < budget) {
      val out = env.dir(s"pass${times.size}")
      val (report, cost) = Util.costed(run(env, in, out))
      times += cost
      env.spark.catalog.clearCache()
      env.op(check(env.spark, in, out.resolve("corpus").toString, Some(report)))
      Util.deleteTree(out)
    }
    System.err.println(s"[perfbench] CorpusMain.run passes ${times.mkString(" ")}")
    times.toSeq
  }

  def traced(env: Env, in: Inputs, tr: Tracer): Unit = {
    val spark = env.spark
    // layer by layer, composed as CorpusMain and Dedup.dedupCorpus do;
    // each layer's output is cached and materialized in full
    def stage(name: String)(f: => DataFrame): DataFrame =
      tr.span(name) { val d = f.cache(); Util.materialize(d); d }
    val docs = stage("corpus.read")(spark.read.parquet(in.path)
      .repartition(spark.sparkContext.defaultParallelism))
    val cleaned = stage("TextAnalysis.cleanCorpus")(docs.join(
      TextAnalysis.cleanCorpus(docs).select("doc_id"), Seq("doc_id"), "left_semi"))
    val survivors = stage("Dedup.exactDedup")(cleaned.join(
      Dedup.exactDedup(cleaned).select("doc_id"), Seq("doc_id"), "left_semi"))
    val pairs = stage("Dedup.minHashPairs")(Dedup.minHashPairs(survivors))
    val comp = stage("Dedup.connectedComponents")(
      Dedup.connectedComponents(pairs.select("d1", "d2")))
    val deduped = stage("corpus.keepRepresentatives")(survivors.join(comp, Seq("doc_id"), "left")
      .filter(col("component_id").isNull || col("component_id") === col("doc_id"))
      .drop("component_id"))
    val out = env.dir("layers")
    val shards = out.resolve("corpus")
    tr.span("Sharding.tokenBudgetShards")(Sharding.tokenBudgetShards(deduped, TokenBudget)
      .write.mode("overwrite").partitionBy("shard_id").parquet(shards.toString))
    env.op(check(spark, in, shards.toString, None))

    env.put("TextAnalysis.cleanCorpus.rows_out", cleaned.count().toDouble)
    env.put("Dedup.exactDedup.rows_out", survivors.count().toDouble)
    env.put("Dedup.minHashPairs.rows_out", pairs.count().toDouble)
    env.put("Dedup.minHashPairs.shuffle_bytes", tr.group("Dedup.minHashPairs").shuffleWriteBytes.toDouble)
    env.put("Dedup.connectedComponents.jobs", tr.group("Dedup.connectedComponents").jobs.toDouble)
    env.put("Sharding.tokenBudgetShards.bytes_written", Util.dirBytes(shards).toDouble)
    for (n <- Seq("TextAnalysis.cleanCorpus", "Dedup.exactDedup", "Dedup.minHashPairs",
                  "Dedup.connectedComponents", "Sharding.tokenBudgetShards"))
      env.put(s"$n.wall_s", tr.wall(n))
    env.put("corpus_docs_per_s", in.corpus.docs.size / Seq("corpus.read",
      "TextAnalysis.cleanCorpus", "Dedup.exactDedup", "Dedup.minHashPairs",
      "Dedup.connectedComponents", "corpus.keepRepresentatives",
      "Sharding.tokenBudgetShards").map(tr.wall).sum)
    spark.catalog.clearCache()
    Util.deleteTree(out)

    Ingest.traced(env, Ingest.prepare(spark, env.seed, env.dir("ingest-input"), env.root), tr)
  }
}

/** The streaming layer, measured in the traced run of `corpus_batch`:
  * the planted corpus cut into landing batches, each carrying in-batch
  * duplicates and duplicates of earlier batches' docs, fed in order
  * through CorpusIngest.processBatch into one growing corpus. */
object Ingest {
  import CorpusGen._

  val Batches = 3
  /** Share of a batch (after the first) added as copies of docs from
    * earlier batches: exact copies and near copies, each at this rate. */
  val CrossBatchDupRate = 0.03
  val CrossIdBase = 700000000L
  val SiteClasses: Seq[String] = Seq("clean", "dedup", "novelty", "write", "index")

  final case class Batch(path: String, size: Long,
                         /** (original id, copy id) planted across batches */
                         cross: Seq[(Long, Long)])
  final case class Inputs(batches: Seq[Batch], textBytes: Long)

  def prepare(spark: SparkSession, seed: Long, dir: Path, root: Path): Inputs = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val corpus = plant(copies(base(spark, root), 1), seed)
    // duplicates land in the batch of their original
    val batchOf = mutable.Map.empty[Long, Int]
    corpus.docs.foreach(d => if (d.id < VariantIdBase) batchOf(d.id) = rnd.nextInt(Batches))
    corpus.exactPairs.foreach { case (o, d) => batchOf(d) = batchOf(o) }
    corpus.clusters.foreach { case (s, vs) => vs.foreach(v => batchOf(v) = batchOf(s)) }
    val byBatch = corpus.docs.groupBy(d => batchOf(d.id))
    var nextCross = CrossIdBase
    val seen = mutable.ArrayBuffer.empty[Doc]
    var textBytes = 0L
    val batches = (0 until Batches).map { b =>
      val own = byBatch.getOrElse(b, Nil)
      val cross = mutable.ArrayBuffer.empty[(Long, Long)]
      val extra = if (b == 0) Nil else (0 until (own.size * CrossBatchDupRate * 2).toInt).map { i =>
        val o = seen(rnd.nextInt(seen.size))
        val text = if (i % 2 == 0) o.text else edit(o.text, rnd)
        cross += o.id -> nextCross
        nextCross += 1
        o.copy(id = nextCross - 1, text = text)
      }
      seen ++= own
      val docs = own ++ extra
      textBytes += docs.map(_.text.getBytes("UTF-8").length.toLong).sum
      val path = dir.resolve(s"landing/batch=$b").toString
      write(spark, docs, path)
      Batch(path, docs.size.toLong, cross.toSeq)
    }
    Inputs(batches, textBytes)
  }

  /** Per-batch checks once all batches have landed. */
  def check(spark: SparkSession, in: Inputs, out: Path): Seq[Option[String]] = {
    val corpus = spark.read.parquet(out.resolve("corpus").toString)
      .select("doc_id", "ingest_batch").collect()
    val ids = corpus.map(_.getLong(0)).toSet
    val perBatch = corpus.groupBy(_.get(1).toString.toLong).map { case (b, rs) => b -> rs.length.toLong }
    val reports = spark.read.parquet(out.resolve("reports").toString).collect()
      .map(r => r.getAs[Any]("ingest_batch").toString.toLong ->
        (r.getAs[Long]("n_input"), r.getAs[Long]("n_cleaned"),
          r.getAs[Long]("n_batch_novel"), r.getAs[Long]("n_novel"))).toMap
    in.batches.indices.map { b =>
      val survived = in.batches(b).cross.count { case (o, d) => ids(o) && ids(d) }
      reports.get(b.toLong) match {
        case None => Some(s"batch $b has no report")
        case Some((ni, nc, nb, nn)) =>
          if (survived > 0) Some(s"batch $b: $survived planted cross-batch duplicates survive")
          else if (ni != in.batches(b).size) Some(s"batch $b report n_input $ni != ${in.batches(b).size}")
          else if (!(ni >= nc && nc >= nb && nb >= nn)) Some(s"batch $b funnel $ni>=$nc>=$nb>=$nn fails")
          else if (nn != perBatch.getOrElse(b.toLong, 0L)) Some(s"batch $b report n_novel $nn != landed")
          else None
      }
    }
  }

  /** Every batch, in order, into one fresh output directory, each call
    * in its own span. */
  def traced(env: Env, in: Inputs, tr: Tracer): Unit = {
    val out = env.dir("ingest")
    val times = in.batches.indices.map { b =>
      val name = s"CorpusIngest.processBatch.batch$b"
      tr.span(name)(CorpusIngest.processBatch(
        env.spark.read.parquet(in.batches(b).path), out.toString, b.toLong))
      env.put(s"$name.wall_s", tr.wall(name))
      env.put(s"ingest.index_bytes.batch$b", Util.dirBytes(out.resolve("index")).toDouble)
      tr.wall(name)
    }
    env.spark.catalog.clearCache()
    check(env.spark, in, out).foreach(env.op)
    val thirds = math.max(1, Batches / 3)
    val corpusBytes = Util.dirBytes(out.resolve("corpus"))
    env.put("ingest_batch_p50_s", Util.median(times))
    env.put("ingest_growth", Util.median(times.takeRight(thirds)) / Util.median(times.take(thirds)))
    env.put("ingest_stored_bytes_ratio",
      (corpusBytes + Util.dirBytes(out.resolve("index"))).toDouble / in.textBytes)
    env.put("ingest.corpus_bytes", corpusBytes.toDouble)
    val sites = in.batches.indices.map(b => tr.group(s"CorpusIngest.processBatch.batch$b").bySite)
    SiteClasses.foreach { c =>
      env.put(s"CorpusIngest.processBatch.$c.jobs", sites.map(_.get(c).map(_._1).getOrElse(0L)).sum.toDouble)
      env.put(s"CorpusIngest.processBatch.$c.shuffle_bytes", sites.map(_.get(c).map(_._2).getOrElse(0L)).sum.toDouble)
    }
  }
}
