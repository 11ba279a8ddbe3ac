package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up (SparkSession, input generation,
  * reference pass, warm-up iterations), run K timed iterations, check
  * the last committed output, and write every metric it measured to a
  * JSON file for `run.py`.
  *
  * Usage: Main --workload W --seed N --iterations K --warmup W --mini-docs M
  *        --mini-iterations I --calibration-cpu-s C --trace 0|1 --docs D
  *        --cores C --buckets B --deadline-s S --work DIR --result FILE
  *        --trace-file FILE --pins JSON --t0-ms MS
  */
object Main {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Resident set size of this process in MiB, from /proc. */
  def rssMb(): Double = {
    val it = scala.io.Source.fromFile("/proc/self/status")
    try it.getLines().find(_.startsWith("VmRSS:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally it.close()
  }

  /** Peak of [[rssMb]] while sampling is on. */
  final class RssSampler extends Thread {
    @volatile var on = false
    @volatile var peak = 0.0
    @volatile var done = false
    setDaemon(true)
    override def run(): Unit = while (!done) {
      if (on) peak = math.max(peak, rssMb())
      Thread.sleep(20)
    }
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** `cpuNs` is the whole process's CPU time, `jitNs` the part its JIT
    * compiler threads used, `calNs` the [[Calibration]] read just before
    * the iteration (timed iterations only). */
  final case class Iter(k: Int, traced: Boolean, wallNs: Long, cpuNs: Long,
      jitNs: Long, outBytes: Long, problems: Seq[String], layer: Map[String, Double],
      calNs: Long = 0L)

  /** CPU nanoseconds of this process's JIT compiler threads, from /proc
    * (the JVM runs with a fixed set of compiler threads, so none exits
    * and takes its ticks with it). */
  def compilerCpuNs(): Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val st = new String(Files.readAllBytes(t.toPath.resolve("stat")), "UTF-8")
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L
        else {
          // utime and stime, in clock ticks of 10 ms
          val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** How fast the machine runs at the moment. On a shared host the cores
    * slow down and speed up with other tenants' load, by a quarter and
    * more within minutes, and that moves every time the benchmark takes.
    * `run` does a fixed amount of benchmark-owned work on
    * `threads` threads at once (dependent loads and integer hashing over
    * a 4 MiB table per thread; no allocation after the first call, no
    * program code) and returns the CPU nanoseconds it took, summed over
    * the threads. Thread CPU time, unlike wall time, does not grow when
    * other threads of this process (JIT compiler, Spark) take turns on
    * the cores, so the program cannot move the reading. */
  object Calibration {
    private val Words = 1 << 20
    private val Rounds = 20000000
    private val tables = mutable.Map.empty[Int, Array[Int]]
    @volatile private var sink = 0
    def run(threads: Int): Long = {
      val tm = ManagementFactory.getThreadMXBean
      val cpu = new java.util.concurrent.atomic.AtomicLong
      val go = new java.util.concurrent.CountDownLatch(1)
      val ts = (0 until threads).map { t =>
        val tab = tables.getOrElseUpdate(t, Array.tabulate(Words)(i => i * 0x9E3779B1))
        new Thread(() => {
          go.await()
          val c0 = tm.getCurrentThreadCpuTime
          var x = t + 1
          var i = 0
          while (i < Rounds) {
            x = x * 0x9E3779B1 + tab(x & (Words - 1))
            tab(i & (Words - 1)) ^= x
            i += 1
          }
          sink += x
          cpu.addAndGet(tm.getCurrentThreadCpuTime - c0)
        })
      }
      ts.foreach(_.start())
      go.countDown()
      ts.foreach(_.join())
      cpu.get
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val iterations = a("iterations").toInt
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val t0Ms = a("t0-ms").toLong
    val deadlineS = a.getOrElse("deadline-s", "60").toDouble

    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", a("buckets"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    val pins = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(a("pins"), classOf[java.util.Map[String, String]])
    val env = Env(cores, a("buckets").toInt, a("docs").toLong, seed, work, spark, tracer,
      scala.jdk.CollectionConverters.MapHasAsScala(pins).asScala.toMap)
    val wl = Workloads(workload, env)

    val problems = mutable.ArrayBuffer.empty[String]
    val iters = mutable.ArrayBuffer.empty[Iter]
    var k = 0

    // one iteration: fresh output dir, timed from the first call into the
    // program until the output is committed
    def once(trace: Boolean, w: Workload = wl): Iter = {
      k += 1
      val out = work.resolve(s"out-$k")
      val watchdog = new java.util.Timer(true)
      watchdog.schedule(new java.util.TimerTask {
        def run(): Unit = spark.sparkContext.cancelAllJobs()
      }, (deadlineS * 1000).toLong)
      if (trace) tracer.on(s"$workload-$seed-it$k") else tracer.off()
      val j0 = compilerCpuNs()
      val c0 = os.getProcessCpuTime
      val w0 = System.nanoTime()
      val p = try tracer.span(s"iteration $k")(w.iterate(out, s"it$k"))
      catch { case e: Throwable => Seq(s"iteration $k failed: $e") }
      val wall = System.nanoTime() - w0
      val cpu = os.getProcessCpuTime - c0
      val jitNs = compilerCpuNs() - j0
      watchdog.cancel()
      val layer = if (trace) { tracer.flush(); Ledgers.iteration(tracer, s"$workload-$seed-it$k") }
        else Map.empty[String, Double]
      tracer.off()
      val late = if (wall > deadlineS * 1e9) Seq(s"iteration $k ran past its ${deadlineS}s deadline") else Nil
      Iter(k, trace, wall, cpu, jitNs, w.outputBytes(out), p ++ late, layer)
    }

    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    wl.prepare()
    val prepareS = (System.currentTimeMillis() - t0Ms) / 1000.0 - sessionS
    // warm-up: iterations over a small copy of the input first, which
    // take the cold start cheaply and warm the per-query code (planning,
    // codegen, job scheduling, commit) that runs only a few times per
    // iteration; then full iterations, which warm the per-document code
    val minis = a("mini-iterations").toInt
    val mini = if (minis == 0) Nil else {
      val m = Workloads(workload, env.copy(docs = a("mini-docs").toLong,
        dir = work.resolve("mini"), pins = Map.empty))
      m.prepare()
      Seq.fill(minis)(m)
    }
    val warmups = mini ++ Seq.fill(a("warmup").toInt)(wl)
    val warmS = warmups.map { w =>
      val warm = once(trace = false, w)
      problems ++= warm.problems
      deleteTree(work.resolve(s"out-${warm.k}"))
      warm.wallNs / 1e9
    }
    (1 to 3).foreach(_ => Calibration.run(cores))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val rss = new RssSampler
    rss.start()
    rss.on = true
    var last: Iter = null
    while (iters.size < iterations) {
      // traced runs alternate traced and untraced iterations so the
      // tracing overhead is measured inside one run
      val cal = Calibration.run(cores)
      val it = once(trace = traced && iters.size % 2 == 1).copy(calNs = cal)
      rss.on = false
      if (last != null) deleteTree(work.resolve(s"out-${last.k}"))
      rss.on = true
      iters += it
      last = it
    }
    rss.on = false
    rss.done = true

    val lastOut = work.resolve(s"out-${last.k}")
    val failedIters = iters.count(_.problems.nonEmpty)
    iters.foreach(problems ++= _.problems)
    val checkProblems = try wl.check(lastOut)
      catch { case e: Throwable => Seq(s"output check failed: $e") }
    problems ++= checkProblems

    // each timed iteration is scaled by the machine speed read just
    // before it, to the speed at which the calibration takes the CPU
    // time pinned in env.json
    val calRefNs = a("calibration-cpu-s").toDouble * 1e9
    def speed(i: Iter): Double = i.calNs / calRefNs
    def perDoc(xs: Seq[Iter]): Seq[Double] = xs.map(i => wl.docs / (i.wallNs / 1e9) * speed(i))
    val plain = iters.filterNot(_.traced).toSeq
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    metrics("docs_per_s") = median(perDoc(plain))
    // JIT compilation still tails off through the timed phase and its
    // amount varies from run to run; it is start-up work, not cost per
    // document, so the compiler threads' CPU is left out
    metrics("cpu_s_per_kdoc") = median(plain.map(i =>
      (i.cpuNs - i.jitNs) / 1e9 / (wl.docs / 1000.0) / speed(i)))
    // set-up is as sensitive to the machine speed, and is scaled by the
    // run's median reading
    metrics("setup_s") = setupS / median(iters.map(speed).toSeq)
    metrics("peak_rss_mb") = rss.peak
    metrics("output_mb") = median(plain.map(_.outBytes / 1048576.0))

    if (traced) {
      val tr = iters.filter(_.traced).toSeq
      val keys = tr.flatMap(_.layer.keys).distinct
      keys.foreach(key => metrics(key) = median(tr.map(_.layer.getOrElse(key, 0.0))))
      metrics("trace.overhead") = median(perDoc(tr)) / median(perDoc(plain))
      try metrics ++= wl.layers(lastOut, problems)
      catch { case e: Throwable => problems += s"layer measurement failed: $e" }
      Ledgers.LayerNames.foreach(n => metrics.getOrElseUpdate(n, 0.0))
      tracer.write(Paths.get(a("trace-file")), Map("workload" -> workload,
        "seed" -> seed, "docs" -> wl.docs, "iterations" -> iters.size,
        "layer_self_s" -> Ledgers.layerSelf(tracer)))
    }

    val failed = failedIters + (if (checkProblems.nonEmpty && last.problems.isEmpty) 1 else 0)
    problems.foreach(p => System.err.println(s"graftbench: $p"))
    val result = Json.obj("correct" -> problems.isEmpty, "attempted" -> iters.size,
      "failed" -> failed,
      "setup_parts_s" -> Map("jvm_and_session" -> sessionS, "input_and_reference" -> prepareS,
        "warm_up" -> (setupS - sessionS - prepareS), "warm_up_iterations" -> warmS),
      "iteration_s" -> iters.map(_.wallNs / 1e9).toSeq,
      "iteration_cpu_s" -> iters.map(_.cpuNs / 1e9).toSeq,
      "iteration_jit_cpu_s" -> iters.map(_.jitNs / 1e9).toSeq,
      "calibration_cpu_s" -> iters.map(_.calNs / 1e9).toSeq,
      "metrics" -> metrics.toMap)
    Files.write(Paths.get(a("result")), result.s.getBytes("UTF-8"))
    spark.stop()
    deleteTree(work)
  }
}

/** Per-layer numbers for one traced iteration, from its spans and the
  * ledger's jobs and stages. */
object Ledgers {
  private val MiB = 1048576.0

  def iteration(t: Tracer, trace: String): Map[String, Double] = {
    val spans = t.spans.filter(_.trace == trace)
    val byId = spans.map(s => s.id -> s).toMap
    def ancestry(id: Int): List[String] =
      byId.get(id).map(s => s.name :: ancestry(s.parent)).getOrElse(Nil)
    val l = t.ledger
    val jobs = l.synchronized(l.jobs.values.filter(j => byId.contains(j.spanId)).toList)
    def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = l.synchronized(
      js.flatMap(_.stageIds).distinct.flatMap(l.stages.get).filter(_.tasks > 0))
    val pipeJobs = jobs.filter(j => ancestry(j.spanId).contains("ExtractPipeline.run"))
    val writeJobs = pipeJobs.filter(j => ancestry(j.spanId).contains("CommitProtocol.writeResults"))
    val opsJobs = jobs.filter(j => ancestry(j.spanId).exists(_.startsWith("ops.")))
    val pipe = stagesOf(pipeJobs)
    val input = stagesOf(writeJobs).filter(s => s.shuffleWriteRecords > 0)
    val extract = stagesOf(writeJobs).filter(s => s.shuffleReadBytes > 0 && s.shuffleWriteRecords == 0)
    val durs = extract.flatMap(_.durations).map(_.toDouble)
    def spanS(name: String): Double = spans.filter(_.name == name).map(_.durUs).sum / 1e6
    Map(
      "sources.scan_task_s" -> input.map(_.runMs).sum / 1000.0,
      "pipeline.shuffle_write_mb" -> pipe.map(_.shuffleWriteBytes).sum / MiB,
      "pipeline.shuffle_records" -> pipe.map(_.shuffleWriteRecords).sum.toDouble,
      "pipeline.fetch_wait_s" -> extract.map(_.fetchWaitMs).sum / 1000.0,
      "pipeline.extract_task_s" -> extract.map(_.runMs).sum / 1000.0,
      "pipeline.task_skew" -> (if (durs.isEmpty) 0.0 else durs.max / math.max(1.0, Main.median(durs))),
      "pipeline.cpu_s" -> pipe.map(_.cpuNs).sum / 1e9,
      "pipeline.gc_s" -> stagesOf(jobs).map(_.gcMs).sum / 1000.0,
      "pipeline.spill_mb" -> pipe.map(_.spillDiskBytes).sum / MiB,
      "pipeline.jobs" -> pipeJobs.size.toDouble,
      "pipeline.stages" -> pipe.size.toDouble,
      "pipeline.tasks" -> pipe.map(_.tasks).sum.toDouble,
      "pipeline.failed_tasks" -> pipe.map(_.failed).sum.toDouble,
      "pipeline.write_s" -> spanS("CommitProtocol.writeResults"),
      "pipeline.commit_s" -> (spanS("CommitProtocol.committedBuckets") +
        spanS("CommitProtocol.appendLineage")),
      "sources.records_in" -> input.map(_.inputRecords).sum.toDouble,
      "sources.wet_s" -> spanS("Warc.writeWet"),
      "ops.gates_s" -> spanS("ops.gates"),
      "ops.exact_s" -> spanS("ops.exact"),
      "ops.minhash_s" -> spanS("ops.minhash"),
      "ops.clusters_s" -> spanS("ops.clusters"),
      "ops.paragraph_s" -> spanS("ops.paragraph"),
      "ops.write_s" -> spanS("ops.write"),
      "ops.shuffle_write_mb" -> stagesOf(opsJobs).map(_.shuffleWriteBytes).sum / MiB,
      "ops.jobs" -> opsJobs.size.toDouble)
  }

  /** Self seconds over every traced iteration, keyed by call span, with
    * each Spark stage charged to the call that started it and split by
    * the stage's role ("input", "post-shuffle", ...): where the timed
    * phase went, layer by layer. */
  def layerSelf(t: Tracer): Map[String, Double] = {
    val all = t.spans.toSeq ++ t.sparkSpans()
    val self = t.selfTimes(all)
    val byId = all.map(s => s.id -> s).toMap
    def owner(s: Span): String =
      if (s.name.startsWith("spark.")) byId.get(s.parent).map(owner).getOrElse("spark")
      else if (s.name.startsWith("iteration ")) "iteration"
      else s.name
    def key(s: Span): String =
      if (s.name.startsWith("spark.stage ")) s"${owner(s)} / stage ${s.name.split(' ').last}"
      else owner(s)
    all.groupBy(key).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  /** Every per-layer metric; a layer a workload does not run reports 0. */
  val LayerNames: Seq[String] = Seq(
    "sources.scan_task_s", "sources.input_mb", "sources.records_in",
    "sources.decode_us", "sources.corrupt_members", "sources.wet_s", "sources.wet_mb",
    "pipeline.shuffle_write_mb", "pipeline.shuffle_records", "pipeline.fetch_wait_s",
    "pipeline.extract_task_s", "pipeline.task_skew", "pipeline.cpu_s", "pipeline.gc_s",
    "pipeline.spill_mb", "pipeline.jobs", "pipeline.stages", "pipeline.tasks",
    "pipeline.failed_tasks", "pipeline.write_s", "pipeline.commit_s",
    "pipeline.docs_out_ratio", "pipeline.extract_us.html", "pipeline.extract_us.pdf",
    "pipeline.extract_us.other", "html.parse_us", "html.segment_us", "html.classify_us",
    "html.escalated_ratio", "pdf.extract_us", "text.sanitize_us", "text.cardintel_us",
    "text.fields_us", "text.confidence_us", "text.quality_us", "text.langhints_us",
    "text.readiness_us", "text.replay_coverage", "ops.gates_s", "ops.exact_s",
    "ops.minhash_s", "ops.clusters_s", "ops.paragraph_s", "ops.write_s",
    "ops.shuffle_write_mb", "ops.jobs", "ops.minhash_candidates", "ops.minhash_pairs",
    "ops.minhash_yield", "ops.bucket_drops", "ops.survivors", "trace.overhead")
}
