package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession}

/** One workload: inputs from a seed, then either an unmeasured warm-up
  * and the untraced measurement (end-to-end metrics), or the traced
  * run (per-layer metrics). */
trait Workload {
  type In
  def prepare(spark: SparkSession, seed: Long, dir: Path, root: Path): In
  def warmup(env: Env, in: In): Unit
  def untraced(env: Env, in: In): Unit
  def traced(env: Env, in: In, tr: Tracer): Unit
}

/** Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <checkout> --build <scratch dir>
  *
  * Prints one line `PERFBENCH_RESULT {json}` with the operation tally,
  * the metrics and the run's drift context; `perfbench/run.py` turns it
  * into the benchmark's result line. With `--pin <dir>` it instead
  * re-pins the registry fingerprints (see Registry.pin). */
object Main {
  val SetupReps = 3

  val workloads: Map[String, Workload] = Map(
    "tb_pipeline" -> TbBench, "corpus_batch" -> CorpusBatchBench)

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(a("root")).toAbsolutePath
    val build = Paths.get(a("build")).toAbsolutePath
    val threads = math.min(4, Runtime.getRuntime.availableProcessors())
    def session(name: String): SparkSession = {
      val s = GraftSession.create(appName = s"perfbench-$name", master = s"local[$threads]")
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    if (a.contains("pin")) {
      val spark = session("pin")
      Registry.pin(new Env(spark, 0L, 0.0, build, root), root, Paths.get(a("pin")).toAbsolutePath)
      spark.stop()
      return
    }
    val name = a("workload")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = build.resolve("work").resolve(name)
    Util.deleteTree(work)

    // set-up, several times: session creation plus input generation
    var spark: SparkSession = null
    var in: wl.In = null.asInstanceOf[wl.In]
    val setups = (0 until (if (trace) 1 else SetupReps)).map { r =>
      if (spark != null) spark.stop()
      Util.costed {
        spark = session(name)
        in = wl.prepare(spark, seed, work.resolve(s"input$r"), root)
      }._2
    }
    val env = new Env(spark, seed, a("seconds").toDouble, work, root)
    val warm = if (trace) Util.Cost(0, 0) else Util.costed {
      wl.warmup(env, in)
      log(f"JIT idle after ${Util.awaitJitIdle()}%.1f s")
    }._2
    // process CPU seconds, which CPU steal does not inflate
    env.put("setup_s", Util.median(setups.map(_.cpu)) + warm.cpu)
    log(s"set-ups $setups, warm-up $warm")
    val t0 = Util.now()

    if (trace) {
      val tr = new Tracer(spark, CallSites.classifier(root))
      wl.traced(env, in, tr)
      tr.stop()
      val t = tr.listener.total
      env.put("spark.task_cpu_s", t.cpuNs / 1e9)
      env.put("spark.gc_s", t.gcMs / 1e3)
      env.put("spark.spill_bytes", t.spillBytes.toDouble)
      env.put("spark.tasks", t.tasks.toDouble)
      env.put("trace.overhead_s", tr.overheadNs / 1e9)
      env.put("failed_frac", env.failed.toDouble / math.max(1L, env.attempted))
      val traces = Files.createDirectories(build.resolve("traces"))
      Files.writeString(traces.resolve(s"$name-seed$seed.json"), tr.toJson)
    } else wl.untraced(env, in)
    env.put("peak_rss_mb", Util.peakRssMb())
    log(s"measured ${Util.secs(t0)} s")

    val context = Seq(
      "canary_s" -> Json.num(Bench.canaryOnce(spark)),
      "canary_shuffle_s" -> Json.num(Bench.canaryShuffleOnce(spark)),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_threads" -> threads.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString)
    spark.stop()
    Util.deleteTree(work)
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (env.failed == 0).toString,
      "attempted" -> env.attempted.toString,
      "failed" -> env.failed.toString,
      "metrics" -> Json.obj(env.metrics.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> env.failures.map(Json.str).mkString("[", ",", "]"),
      "context" -> Json.obj(context))))
  }
}
