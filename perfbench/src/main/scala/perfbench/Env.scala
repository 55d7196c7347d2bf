package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload run shares: the session, its seed and time budget,
  * a scratch directory, the operation tally and the metrics it reports. */
final class Env(val spark: SparkSession, val seed: Long, val seconds: Double,
                val work: Path, val root: Path) {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  /** Count one operation; `problem` is None when it succeeded and its
    * output checks passed. */
  def op(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (failures.size < 20) failures += p
    }
  }

  def put(name: String, value: Double): Unit = metrics(name) = value

  def dir(name: String): Path = {
    val d = work.resolve(name)
    Util.deleteTree(d)
    Files.createDirectories(d)
    d
  }
}

object Util {
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, on all its threads. */
  def cpuSecs(): Double = os.getProcessCpuTime / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, secs(t0))
  }

  /** CPU seconds the JIT compiler threads have used, from the kernel's
    * per-thread accounting (the JVM names them "C1/C2 CompilerThread"). */
  def jitCpuSecs(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val comm = Files.readString(t.toPath.resolve("comm"))
        if (!comm.contains("CompilerThre")) 0L
        else Files.readString(t.toPath.resolve("schedstat")).split(" ")(0).toLong
      } catch { case _: java.io.IOException => 0L } // the thread has ended
    }.sum / 1e9
  }

  /** Waits, at most `maxSecs`, until the JIT compiler threads have
    * gone quiet (under 5% of one core over a quarter second), so that a
    * measurement does not start while the work before it is still being
    * compiled. Returns the seconds waited. */
  def awaitJitIdle(maxSecs: Double = 20.0): Double = {
    val t0 = now()
    var last = jitCpuSecs()
    var idle = false
    while (!idle && secs(t0) < maxSecs) {
      Thread.sleep(250)
      val j = jitCpuSecs()
      idle = j - last < 0.0125
      last = j
    }
    secs(t0)
  }

  /** Wall and process CPU seconds of `body`, and the CPU seconds of the
    * JIT compiler threads within it. */
  final case class Cost(wall: Double, cpu: Double, jit: Double = 0.0) {
    /** CPU seconds less the JIT compilers' CPU. The compile work in one
      * pass depends on how far the JIT had got when the pass began, so
      * leaving it out keeps the figure to the program's own work. */
    def appCpu: Double = cpu - jit
  }
  def costed[T](body: => T): (T, Cost) = {
    val c0 = cpuSecs()
    val j0 = jitCpuSecs()
    val (r, wall) = timed(body)
    (r, Cost(wall, cpuSecs() - c0, jitCpuSecs() - j0))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Materialize every row and column of `df` without keeping it. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Peak resident set of this process, from the kernel's VmHWM. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
