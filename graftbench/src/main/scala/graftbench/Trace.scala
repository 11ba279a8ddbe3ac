package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call into a layer, or a Spark job/stage it caused. */
final case class Span(id: Int, name: String, parent: Int, trace: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Tracer {
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}

/** Per-stage totals folded from task-end events. */
final class StageAgg(val stageId: Int) {
  var tasks = 0
  var failed = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var inputRecords = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
  var startMs = 0L
  var endMs = 0L

  /** Where the stage sits around a shuffle: "input" reads the source and
    * writes a shuffle, "post-shuffle" reads one and writes output. */
  def role: String =
    if (shuffleWriteRecords > 0 && shuffleReadBytes == 0) "input"
    else if (shuffleReadBytes > 0 && shuffleWriteRecords == 0) "post-shuffle"
    else if (shuffleReadBytes > 0) "exchange"
    else "no-shuffle"
}

final class JobRec(val jobId: Int, val spanId: Int, val startMs: Long) {
  var endMs = 0L
  val stageIds = mutable.ArrayBuffer.empty[Int]
}

/** Stage and task counters for the jobs the traced calls start. Jobs are
  * tied to spans through the job description, which [[Tracer.span]]
  * sets to "<span id> <span name>" before the call. */
final class Ledger extends SparkListener {
  import Tracer.JobDescription
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  @volatile var flushed: String = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobDescription)))
      .getOrElse("")
    val spanId = scala.util.Try(desc.takeWhile(_ != ' ').toInt).getOrElse(0)
    val j = new JobRec(e.jobId, spanId, e.time)
    j.stageIds ++= e.stageIds
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.spanId < 0) flushed = s"flush-${-j.spanId}"
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val a = stages.getOrElseUpdate(id, new StageAgg(id))
    a.startMs = e.stageInfo.submissionTime.getOrElse(0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { a =>
      a.endMs = e.stageInfo.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failed += 1
    a.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillDiskBytes += m.diskBytesSpilled
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }
}

/** Spans around the benchmark's calls into the program. Disabled, a span
  * is just the call. Enabled, it records name, start, end, parent and
  * trace id in memory, and labels the Spark jobs the call starts so the
  * [[Ledger]] can attribute their stages to it. */
final class Tracer(sc: SparkContext) {
  import Tracer.JobDescription
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  private def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val ledger = new Ledger
  var enabled = false
  var trace = ""
  private var nextId = 1
  private var stack: List[Int] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  def on(traceId: String): Unit = {
    trace = traceId
    if (!enabled) { sc.addSparkListener(ledger); enabled = true }
  }

  def off(): Unit = {
    if (enabled) { sc.removeSparkListener(ledger); enabled = false }
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val prevDesc = sc.getLocalProperty(JobDescription)
    stack = id :: stack
    sc.setJobDescription(s"$id $name")
    val start = nowUs
    try body
    finally {
      spans += Span(id, name, parent, trace, start, nowUs)
      stack = stack.tail
      sc.setJobDescription(prevDesc)
    }
  }

  /** Wait until the ledger has seen every event posted so far: a tiny
    * job labelled with a fresh negative id is the last event on the
    * queue, and the listener bus delivers in order. */
  def flush(): Unit = if (enabled) {
    val tag = nextId; nextId += 1
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(s"${-tag} flush")
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(prev)
    val deadline = System.nanoTime() + 10000000000L
    while (ledger.flushed != s"flush-$tag" && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Spans for the ledger's jobs and stages, parented to the call span
    * that started them. */
  def sparkSpans(): Seq[Span] = ledger.synchronized {
    val known = spans.map(s => s.id -> s).toMap
    val out = mutable.ArrayBuffer.empty[Span]
    ledger.jobs.values.filter(j => known.contains(j.spanId)).foreach { j =>
      val jid = 1000000 + j.jobId
      out += Span(jid, s"spark.job ${j.jobId}", j.spanId, known(j.spanId).trace,
        j.startMs * 1000L, math.max(j.endMs, j.startMs) * 1000L)
      j.stageIds.flatMap(ledger.stages.get).filter(_.tasks > 0).foreach { s =>
        out += Span(2000000 + s.stageId, s"spark.stage ${s.stageId} ${s.role}", jid,
          known(j.spanId).trace, s.startMs * 1000L, math.max(s.endMs, s.startMs) * 1000L)
      }
    }
    out.toSeq
  }

  /** Self time per span: duration minus the union of its children. */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.durUs - covered)
    }.toMap
  }

  /** All spans as JSON, with self time, written once at exit. */
  def write(path: java.nio.file.Path, summary: Map[String, Any]): Unit = {
    val all = spans.toSeq ++ sparkSpans()
    val self = selfTimes(all)
    val rows = all.sortBy(_.startUs).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_us" -> self(s.id))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, Json.obj("summary" -> summary, "spans" -> rows)
      .s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer (numbers keep all their digits). */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }
    .mkString("{", ",", "}"))

  def str(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
