package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, struct, sum, xxhash64}

import graft.SparkEntry
import graft.ops.Memo

/** The ops registry layer, measured in the traced run of
  * `tb_pipeline`: 14 registry queries of the graph, integer-ANN, dedup
  * and text families over the vendored sf0.01 tables, each written out
  * in full through SparkEntry.queries. The inputs are fixed so every
  * output can be checked against a pinned fingerprint. */
object Registry {

  val Families: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("q198_kcore", "q201_coreness", "q202_ktruss", "q101_pagerank"),
    "ann" -> Seq("q43_ann_ivf", "q171_pq_topk", "q174_ivfpq_topk"),
    "dedup" -> Seq("q39_dedup_clusters", "q49_dedup_corpus", "q140_survivor_pick"),
    "text" -> Seq("q178_html_extract", "q184_gopher_lines", "q187_c4_clean", "q170_bpe_encode"))
  val Queries: Seq[String] = Families.flatMap(_._2)

  final case class Inputs(dataDir: String, pins: Map[String, (Long, String)])

  private def pinsFile(root: Path): Path = root.resolve("perfbench/data/registry_pins.tsv")

  def prepare(root: Path): Inputs = {
    val pins = Files.readAllLines(pinsFile(root)).toArray(Array.empty[String]).iterator
      .filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(a => a(0) -> (a(1).toLong, a(2))).toMap
    Inputs(root.resolve("perfbench/data/registry").toString, pins)
  }

  /** Row count and an order-independent hash of a written output: the
    * sum, as an exact decimal, of each row's xxhash64 over its columns
    * in name order. */
  def fingerprint(spark: SparkSession, path: Path): (Long, String) = {
    val df = spark.read.parquet(path.toString)
    val cols = df.columns.sorted.toSeq.map(col)
    val r = df.agg(org.apache.spark.sql.functions.count("*"),
      sum(xxhash64(struct(cols: _*)).cast("decimal(38,0)"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def write(spark: SparkSession, in: Inputs, q: String, out: Path): Unit =
    SparkEntry.queries(q)(spark, in.dataDir).write.mode("overwrite").parquet(out.resolve(q).toString)

  /** One pass over the queries with the memo cleared first; per-query
    * wall seconds of the full write. */
  private def pass(env: Env, in: Inputs, out: Path,
                   around: (String, => Unit) => Unit = (_, f) => f): Map[String, Double] = {
    Memo.clear(env.spark)
    Queries.map(q => q -> Util.timed(around(q, write(env.spark, in, q, out)))._2).toMap
  }

  private def check(env: Env, in: Inputs, out: Path): Unit =
    Queries.foreach { q =>
      val got = fingerprint(env.spark, out.resolve(q))
      env.op(if (in.pins.get(q).contains(got)) None
             else Some(s"$q fingerprint $got != pinned ${in.pins.get(q)}"))
    }

  /** One traced pass with the memo cleared first, then one pass that
    * only counts each query's rows, for the count/write ratio. */
  def traced(env: Env, in: Inputs, tr: Tracer): Unit = {
    val spark = env.spark
    val out = env.dir("traced")
    val hits0 = Memo.hitCount(spark)
    val tt = tr.span("registry.pass")(pass(env, in, out, (q, f) => tr.span(s"registry.$q")(f)))
    env.put("registry.memo_hits", (Memo.hitCount(spark) - hits0).toDouble)
    Families.foreach { case (f, qs) => env.put(s"registry_${f}_s", qs.map(tt).sum) }
    spark.catalog.clearCache()
    check(env, in, out)

    Memo.clear(spark)
    val counts = Queries.map(q =>
      q -> Util.timed(SparkEntry.queries(q)(spark, in.dataDir).count())._2).toMap
    spark.catalog.clearCache()
    Queries.foreach { q =>
      val g = tr.group(s"registry.$q")
      env.put(s"registry.$q.wall_s", tr.wall(s"registry.$q"))
      env.put(s"registry.$q.jobs", g.jobs.toDouble)
      env.put(s"registry.$q.shuffle_bytes", g.shuffleWriteBytes.toDouble)
      env.put(s"registry.$q.count_over_write", counts(q) / tt(q))
    }
  }

  /** Write every query once over `in`, then record each output's
    * fingerprint in the pins file and the queries' oracle SQL beside
    * the outputs, for `tools/check_oracle.py <data dir> <out>`. */
  def pin(env: Env, root: Path, out: Path): Unit = {
    val in = Inputs(root.resolve("perfbench/data/registry").toString, Map.empty)
    Files.createDirectories(out)
    pass(env, in, out)
    val lines = Queries.map { q =>
      val (n, h) = fingerprint(env.spark, out.resolve(q))
      s"$q\t$n\t$h"
    }
    Files.writeString(pinsFile(root),
      ("# query\trows\tsum of row xxhash64 (see Registry.fingerprint)" +: lines)
        .mkString("", "\n", "\n"))
    val sql = SparkEntry.oracleSql.filter { case (q, _) => Queries.contains(q) }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(sql.toSeq.sortBy(_._1).map { case (q, s) => q -> Json.str(s) }))
  }
}
