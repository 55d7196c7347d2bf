package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark counters summed over the jobs of one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Jobs and shuffle bytes per call-site class (see [[CallSites]]). */
  val bySite: mutable.Map[String, (Long, Long)] = mutable.Map.empty
}

/** Job records for the trace file: which group ran it, where it was
  * called from, and what it shuffled. */
final case class JobRecord(id: Int, group: String, site: String, siteClass: String,
                           startMs: Long, var endMs: Long = 0L,
                           var shuffleWriteBytes: Long = 0L, var tasks: Long = 0L)

/** The harness's own SparkListener: attributes every task's metrics to
  * the job group that was set when its job started. Registered only in
  * the traced run. */
final class GroupListener(classify: (String, String) => String) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, JobRecord]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  /** SQL execution id → the call site of the action that started it:
    * adaptive query stages run as jobs submitted from another thread,
    * so only the execution knows where the work was asked for. */
  private val executionSite = new ConcurrentHashMap[Long, (String, String)]()
  val jobs: mutable.ArrayBuffer[JobRecord] = mutable.ArrayBuffer.empty
  @volatile var started = 0L
  @volatile var ended = 0L
  /** Time spent inside this listener's callbacks. */
  @volatile var busyNs = 0L
  val total = new GroupStats

  def stats(group: String): GroupStats = groups.computeIfAbsent(group, _ => new GroupStats)

  private def busy[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(busy {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val last = e.stageInfos.maxBy(_.stageId)
    val (site, details) = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionSite.get(id.toLong)))
      .getOrElse((last.name, last.details))
    val rec = JobRecord(e.jobId, group, site, classify(site, details), e.time)
    jobs += rec
    e.stageInfos.foreach { s =>
      stageGroup.putIfAbsent(s.stageId, group)
      stageJob.putIfAbsent(s.stageId, rec)
    }
    val g = stats(group)
    g.jobs += 1
    val (j, b) = g.bySite.getOrElse(rec.siteClass, (0L, 0L))
    g.bySite(rec.siteClass) = (j + 1, b)
    total.jobs += 1
    started += 1
  })

  override def onOtherEvent(e: SparkListenerEvent): Unit = busy(e match {
    case s: SparkListenerSQLExecutionStart =>
      executionSite.put(s.executionId, (s.description, s.details))
    case _ =>
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(busy {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    ended += 1
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized(busy {
    val m = e.taskMetrics
    if (m != null) {
      val sw = m.shuffleWriteMetrics.bytesWritten
      val spill = m.diskBytesSpilled
      val targets = Seq(total) ++ Option(stageGroup.get(e.stageId)).map(stats)
      targets.foreach { g =>
        g.tasks += 1
        g.cpuNs += m.executorCpuTime
        g.gcMs += m.jvmGCTime
        g.shuffleWriteBytes += sw
        g.spillBytes += spill
      }
      Option(stageJob.get(e.stageId)).foreach { rec =>
        rec.shuffleWriteBytes += sw
        rec.tasks += 1
        Option(stageGroup.get(e.stageId)).map(stats).foreach { g =>
          val (j, b) = g.bySite.getOrElse(rec.siteClass, (0L, 0L))
          g.bySite(rec.siteClass) = (j, b + sw)
        }
      }
    }
  })

  /** Block until every started job's end event has been delivered, so
    * the counters read after an action include all of its tasks.
    * Returns the nanoseconds spent waiting. */
  def drain(timeoutMs: Long = 5000L): Long = {
    val t0 = System.nanoTime()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended < started && System.currentTimeMillis() < deadline) Thread.sleep(2)
    Thread.sleep(5)
    System.nanoTime() - t0
  }
}

private final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                              var endNs: Long = 0L)

/** In-memory spans around the harness's calls into each layer. A span
  * sets the Spark job group to its own name, so Spark work started
  * inside it is attributed to the innermost span. Spans are written as
  * JSON once, when the run ends. */
final class Tracer(spark: SparkSession, classify: (String, String) => String) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var drainNs = 0L
  val listener = new GroupListener(classify)
  spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    stack = s :: stack
    spark.sparkContext.setJobGroup(name, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(p.name, p.name)
        case None => spark.sparkContext.clearJobGroup()
      }
      drainNs += listener.drain()
    }
  }

  /** What tracing added: the listener's callback time plus the waits
    * for its events at the end of each span. */
  def overheadNs: Long = listener.busyNs + drainNs

  /** Wall seconds of the spans with this name, summed. */
  def wall(name: String): Double =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def group(name: String): GroupStats = listener.stats(name)

  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Spans with self time (duration minus the time covered by direct
    * children; children of one span never overlap here) plus the job
    * records, as one JSON document. */
  def toJson: String = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.filter(_.parent >= 0).foreach(s => childNs(s.parent) += s.endNs - s.startNs)
    def ms(ns: Long) = Json.num(ns / 1e6)
    val spanJs = spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> (if (s.parent < 0) "null" else s.parent.toString),
        "start_ms" -> ms(s.startNs - t0), "end_ms" -> ms(s.endNs - t0),
        "self_ms" -> ms(s.endNs - s.startNs - childNs(s.id))))
    }
    val jobJs = listener.synchronized(listener.jobs.toList).map { j =>
      Json.obj(Seq("id" -> j.id.toString, "group" -> Json.str(j.group),
        "site" -> Json.str(j.site), "class" -> Json.str(j.siteClass),
        "wall_ms" -> (j.endMs - j.startMs).toString,
        "tasks" -> j.tasks.toString, "shuffle_write_bytes" -> j.shuffleWriteBytes.toString))
    }
    Json.obj(Seq("spans" -> spanJs.mkString("[", ",", "]"),
      "jobs" -> jobJs.mkString("[", ",", "]")))
  }
}

/** Call-site classes for the jobs of CorpusIngest.processBatch. Spark
  * reports a job's call site as a stack; the innermost graft frame
  * decides: cleaning, in-batch dedup, novelty against the index, index
  * maintenance, or the batch's own writes and report. A frame in
  * processBatch itself is classed by its source line: a line that names
  * the index is index maintenance, any other is a write. */
object CallSites {
  private val Frame = raw"graft\.([\w.$$]+)\.([\w$$]+)\((\w+\.scala):(\d+)\)".r
  private val Novelty = Set("deltaDedupIndexed", "deltaDedup", "exactNovelDocs",
    "deltaPairStats", "dupIdsFromStats", "novelOnly", "releaseAfterNextAction",
    "readDedupIndex", "readIndexExcluding", "hasParquetData", "pathExists")

  def classifier(root: java.nio.file.Path): (String, String) => String = {
    val lines = mutable.Map.empty[String, IndexedSeq[String]]
    def source(cls: String, file: String): IndexedSeq[String] =
      lines.getOrElseUpdate(cls, {
        val pkg = cls.split('.').dropRight(1)
        val p = pkg.foldLeft(root.resolve("src/main/scala/graft"))(_.resolve(_)).resolve(file)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.readAllLines(p, java.nio.charset.StandardCharsets.UTF_8)
            .toArray(Array.empty[String]).toIndexedSeq
        else IndexedSeq.empty
      })
    (_, long) => long.split("\n").iterator.map(_.trim).collectFirst {
      case Frame(cls, method, file, line) => (cls, method, file, line.toInt)
    } match {
      case Some((cls, m, _, _)) if cls.contains("TextAnalysis") => "clean"
      case Some((_, m, _, _)) if Novelty.exists(m.contains) => "novelty"
      case Some((_, m, _, _)) if m.contains("DedupIndex") => "index"
      case Some((cls, _, _, _)) if cls.contains("Dedup") => "dedup"
      case Some((cls, m, file, n)) if m.contains("processBatch") =>
        if (source(cls, file).lift(n - 1).exists(_.contains("index"))) "index" else "write"
      case _ => "other"
    }
  }
}

/** Minimal JSON writing: values are pre-rendered strings. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
