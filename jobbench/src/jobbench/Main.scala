package jobbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.BusFlush
import org.apache.spark.sql.SparkSession

/** Job-level benchmark of one generated workload directory.
  *
  * Closed loop, one client: jobs run one after another from this process on
  * `local[cores]`, because an xETL caller waits for its job to finish.
  *
  * {{{
  * java ... jobbench.Main --work DIR --seconds 10 --trace 0|1 [--cores N]
  *   [--warmup N] [--setups 5] [--traced-jobs 2] [--trace-out FILE] [--log-out FILE]
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`, `failed` and
  * `metrics` (end-to-end metrics with `--trace 0`, per-layer with `--trace 1`). */
object Main {

  final case class Opts(work: String = "", seconds: Double = 10, warmup: Option[Int] = None,
      trace: Boolean = false, cores: Int = Runtime.getRuntime.availableProcessors(),
      setups: Int = 5, tracedJobs: Int = 2, traceOut: Option[String] = None,
      logOut: Option[String] = None)

  private def parseArgs(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--work" :: v :: t => parseArgs(t, o.copy(work = v))
    case "--seconds" :: v :: t => parseArgs(t, o.copy(seconds = v.toDouble))
    case "--warmup" :: v :: t => parseArgs(t, o.copy(warmup = Some(v.toInt)))
    case "--trace" :: v :: t => parseArgs(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t => parseArgs(t, o.copy(cores = v.toInt))
    case "--setups" :: v :: t => parseArgs(t, o.copy(setups = v.toInt))
    case "--traced-jobs" :: v :: t => parseArgs(t, o.copy(tracedJobs = v.toInt))
    case "--trace-out" :: v :: t => parseArgs(t, o.copy(traceOut = Some(v)))
    case "--log-out" :: v :: t => parseArgs(t, o.copy(logOut = Some(v)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  /** The session `graft.cli.Main` builds, on `local[cores]` with one shuffle
    * partition per core, and scratch space inside the work directory. */
  def buildSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("jobbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1)) }

  private def write(file: String, text: String): Unit = {
    val p = Paths.get(file).toAbsolutePath
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time (in 1/100 s ticks) the hypervisor gave to other guests while
    * this machine's CPUs had work: `steal` of the `cpu` line of /proc/stat;
    * 0 where the kernel does not report it. */
  private def stealTicks: Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f(0) == "cpu" && f.length > 8) f(8).toLong else 0L
    } catch { case _: Exception => 0L }

  /** A job lost to the host when the hypervisor stole more than this share of
    * the machine's CPU time while it ran. */
  val MaxStealShare = 0.05

  /** One successful job: wall and process CPU seconds, and the share of the
    * machine's CPU time stolen by the hypervisor while it ran. */
  final case class Sample(wall: Double, cpu: Double, stealShare: Double) {
    def clean: Boolean = stealShare <= MaxStealShare
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args.toList)
    val w = new Workload(Paths.get(o.work))
    val heap = new HeapMonitor
    val lines = new AtomicLong
    val emitted = new AtomicLong
    val emitLine = java.util.regex.Pattern.compile("emit \\S+ line \\d+ of \\d+$")
    val jobLog = ArrayBuffer.empty[String]
    val sink: String => Unit = { l =>
      lines.incrementAndGet()
      jobLog += l
      if (emitLine.matcher(l).find()) emitted.incrementAndGet()
    }
    def err(msg: String): Unit = System.err.println(s"[jobbench] $msg")
    val t00 = System.nanoTime()
    def phase(name: String): Unit = err(f"$name done at ${(System.nanoTime() - t00) / 1e9}%.1f s")

    // ---- set-up: session build + first table read -----------------------------
    // The first in the fresh JVM; the others (stop, build, read) are spread over
    // the untimed jobs, one before the cold job and before each warm-up job, so
    // that a short burst of host load does not move all of them.
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    def setup(): Unit = {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = buildSession(o.cores, o.work)
      Probes.consume(spark.read.parquet(w.in(w.str("setup_table"))))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    setup()

    // ---- jobs ---------------------------------------------------------------
    var attempted = 0
    var failed = 0
    var reference: Option[Map[String, Signature]] = None

    /** Runs `body` as one job; returns its sample when it succeeds and its
      * outputs match the first successful job's. */
    def job(heapArmed: Boolean)(body: => Unit): Option[Sample] = {
      w.clean()
      emitted.set(0)
      jobLog.clear()
      attempted += 1
      val s0 = stealTicks
      val c0 = cpuNs
      val t0 = System.nanoTime()
      heap.armed = heapArmed
      val ran =
        try { body; true }
        catch { case e: Exception => err(s"job failed: $e"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs - c0) / 1e9
      val stolen = (stealTicks - s0) / 100.0 / (wall * o.cores)
      // a full collection while still armed: the heap the job left behind, and
      // the next job starts without this one's garbage
      heap.fullGc()
      heap.armed = false
      val ok = ran && {
        val sigs = w.signatures(spark)
        if (reference.isEmpty) reference = Some(sigs)
        val same = reference.contains(sigs)
        if (!same) err(s"outputs differ from the first job: $sigs vs ${reference.get}")
        val emits = emitted.get == w.expectedEmitLines
        if (!emits) err(s"subprocess lines ${emitted.get}, expected ${w.expectedEmitLines}")
        same && emits
      }
      if (!ok) failed += 1
      if (ok) Some(Sample(wall, cpu, stolen)) else None
    }

    def resetup(): Unit = if (setupS.size < o.setups) setup()
    resetup()
    phase("set-up")
    val cold = job(heapArmed = false)(w.run(spark, sink))
    phase("cold job")
    // untimed warm-up jobs, counted rather than timed so that the timed jobs
    // start at the same point of JIT warm-up on a slow host as on a fast one;
    // they are checked like the timed ones. The count is the workload's, set
    // from how many jobs its JIT warm-up takes.
    val warmup = o.warmup.getOrElse(w.meta.get("warmup_jobs").asInt)
    (1 to warmup).foreach { _ =>
      resetup()
      job(heapArmed = false)(w.run(spark, sink))
    }
    while (setupS.size < o.setups) setup()
    phase("warm-up")
    // Timed jobs for --seconds, at least minReps. A job during which the
    // hypervisor stole more than MaxStealShare of the CPU time measured the host,
    // not the program: the medians are over the clean jobs when there are at
    // least 3 of them.
    val warm = ArrayBuffer.empty[Sample]
    var outBytes = 0L
    val loopStart = System.nanoTime()
    val minReps = 5
    var timed = 0
    while (timed < minReps || (System.nanoTime() - loopStart) / 1e9 < o.seconds) {
      timed += 1
      job(heapArmed = true)(w.run(spark, sink)).foreach { r =>
        warm += r
        outBytes = w.outputBytes
      }
    }
    val measured = if (warm.count(_.clean) >= 3) warm.filter(_.clean) else warm
    phase("warm jobs")
    val problems = if (reference.isDefined) w.verify(spark) else Seq("no job succeeded")
    phase("checks")
    problems.foreach(p => err(s"check failed: $p"))
    // the outputs every job wrote are identical, so a failed check fails them all
    if (problems.nonEmpty) failed = attempted

    val jobS = median(measured.map(_.wall).toSeq)
    val endToEnd = Seq(
      ("job_s", jobS, "s"),
      ("cold_job_s", cold.map(_.wall).getOrElse(0.0), "s"),
      ("setup_s", median(setupS.toSeq), "s"),
      ("rows_per_s", if (jobS > 0) w.sourceRows / jobS else 0.0, "rows/s"),
      ("commands_per_s", if (jobS > 0) w.executedCommands / jobS else 0.0, "1/s"),
      ("job_cpu_s", median(measured.map(_.cpu).toSeq), "s"),
      ("output_mb", outBytes / 1e6, "MB"),
      ("heap_peak_mb", heap.peakBytes / 1e6, "MB"),
      ("failed_frac", failed.toDouble / math.max(1, attempted), "ratio"))
    println(f"workload ${w.name}: ${w.executedCommands} commands and " +
      f"${w.sourceRows} source rows per job")
    println(s"  timed job_s samples (${warm.size}, ${measured.size} used, after $warmup " +
      s"warm-up jobs): ${warm.map(r => f"${r.wall}%.3f").mkString(" ")}")
    println(s"  host steal share per timed job: " +
      warm.map(r => f"${r.stealShare}%.3f").mkString(" "))
    println(s"  set-up samples (${setupS.size}): ${setupS.map(s => f"$s%.3f").mkString(" ")}")
    endToEnd.foreach { case (n, v, u) => println(f"  $n%-16s $v%14.6f $u") }

    // Printed above but not in the JSON: failed_frac reads 0 in a healthy run
    // (it is carried by `failed`/`attempted`), and cold_job_s is one sample per
    // JVM, so host load moves it by more than any bound the JSON metrics carry.
    val reportOnly = Set("failed_frac", "cold_job_s")
    val reported: Seq[(String, Double, String)] =
      if (!o.trace) endToEnd.filterNot(m => reportOnly(m._1))
      else traced(o, w, spark, sink, lines, jobS, job)
    if (o.trace) phase("traced run")
    o.logOut.foreach(f => write(f, jobLog.mkString("", "\n", "\n")))
    heap.close()
    spark.stop()
    val metrics = reported.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": $metrics}""")
    System.out.flush()
    sys.exit(0)
  }

  /** The traced run: the job replayed with spans around each layer's public
    * calls, then the llm and plans calls timed on their own. */
  private def traced(o: Opts, w: Workload, spark: SparkSession, sink: String => Unit,
      lines: AtomicLong, untracedJobS: Double,
      job: Boolean => (=> Unit) => Option[Sample]): Seq[(String, Double, String)] = {
    val sc = spark.sparkContext
    val tr = new Tracer(sc)
    val eng = new EngineListener
    sc.addSparkListener(eng)
    val perJob = (1 to math.max(1, o.tracedJobs)).flatMap { j =>
      tr.job = j
      lines.set(0)
      job(false)(w.runTraced(spark, tr, sink))
        .map(_ => layerMetrics(tr, eng, j, lines.get, o.cores, w))
    }
    tr.job = 0
    val probeCounts = Probes.run(spark, w, tr)
    BusFlush.drain(sc)
    sc.removeSparkListener(eng)
    o.traceOut.foreach(write(_, tr.toJson))
    val probeSpans = tr.ofJob(0)
    def probeS(n: String) = probeSpans.filter(_.name == n).map(_.seconds).sum
    val keys = if (perJob.isEmpty) Seq.empty else perJob.head.keys.toSeq
    val jobMed = keys.map(k => k -> median(perJob.map(_(k)))).toMap
    val tracedJobS = jobMed.getOrElse("trace.job_s", 0.0)
    val probeSelf = tr.selfSeconds(probeSpans)

    // printed alongside the metrics: where the traced job's time went
    println(f"traced: ${perJob.size} jobs, trace.job_s $tracedJobS%.6f s, " +
      f"untraced job_s $untracedJobS%.6f s, overhead ${tracedJobS - untracedJobS}%.6f s")
    Seq("spec", "exec").foreach(l =>
      println(f"  self time $l%-5s ${jobMed.getOrElse(s"$l.self_s", 0.0)}%.6f s"))
    probeSpans.groupBy(_.layer).foreach { case (l, ss) =>
      println(f"  probe self time $l%-5s ${ss.map(s => probeSelf(s.id)).sum}%.6f s")
    }

    val s = "s"
    val c = "count"
    def m(n: String, u: String) = (n, jobMed.getOrElse(n, 0.0), u)
    Seq(
      m("spec.parse_s", s), m("spec.resolve_s", s), m("spec.discover_s", s),
      m("spec.validate_s", s), m("spec.commands", c), m("spec.self_s", s),
      m("exec.view_op_s", s), m("exec.view_op_s.p50", s), m("exec.view_op_s.p99", s),
      m("exec.action_op_s", s), m("exec.subprocess_s", s), m("exec.subprocesses", c),
      m("exec.subprocess_s.p99", s), m("exec.log_lines", c), m("exec.self_s", s),
      ("llm.quality_s", probeS("llm.quality"), s),
      ("llm.exact_dedup_s", probeS("llm.exact_dedup"), s),
      ("llm.shingle_s", probeS("llm.shingle"), s),
      ("llm.minhash_s", probeS("llm.minhash"), s),
      ("llm.lsh_candidates_s", probeS("llm.lsh_candidates"), s),
      ("llm.jaccard_s", probeS("llm.jaccard"), s),
      ("llm.knn_s", probeS("llm.knn"), s),
      ("llm.candidate_pairs", probeCounts("llm.candidate_pairs"), c),
      ("llm.verified_pairs", probeCounts("llm.verified_pairs"), c),
      ("llm.candidate_precision", probeCounts("llm.candidate_precision"), "ratio"),
      ("llm.knn_candidate_pairs", probeCounts("llm.knn_candidate_pairs"), c),
      ("llm.knn_recall_at_k", probeCounts("llm.knn_recall_at_k"), "ratio"),
      ("plans.asof_s", probeS("plans.asof"), s),
      ("plans.asof_rows", probeCounts("plans.asof_rows"), c),
      m("engine.jobs", c), m("engine.stages", c), m("engine.tasks", c),
      m("engine.failed_tasks", c), m("engine.task_run_s", s), m("engine.task_cpu_s", s),
      m("engine.task_wait_s", s), m("engine.gc_s", s), m("engine.core_util", "ratio"),
      m("engine.shuffle_write_mb", "MB"), m("engine.shuffle_read_mb", "MB"),
      m("engine.spill_mb", "MB"), m("engine.input_mb", "MB"), m("engine.output_mb", "MB"),
      m("trace.job_s", s),
      ("trace.overhead_s", tracedJobS - untracedJobS, s))
  }

  /** Per-layer numbers of traced job `j`. */
  private def layerMetrics(tr: Tracer, eng: EngineListener, j: Int, logLines: Long,
      cores: Int, w: Workload): Map[String, Double] = {
    BusFlush.drain(tr.sc)
    val ss = tr.ofJob(j)
    val self = tr.selfSeconds(ss)
    def durs(n: String) = ss.filter(_.name == n).map(_.seconds)
    def selfOf(layer: String) = ss.filter(_.layer == layer).map(s => self(s.id)).sum
    val e = eng.totals(ss.map(_.id).toSet)
    Map(
      "spec.parse_s" -> durs("spec.parse").sum,
      "spec.resolve_s" -> durs("spec.resolve").sum,
      "spec.discover_s" -> durs("spec.discover").sum,
      "spec.validate_s" -> durs("spec.validate").sum,
      "spec.commands" -> w.validatedCommands.toDouble,
      "spec.self_s" -> selfOf("spec"),
      "exec.view_op_s" -> durs("exec.view_op").sum,
      "exec.view_op_s.p50" -> pct(durs("exec.view_op"), 50),
      "exec.view_op_s.p99" -> pct(durs("exec.view_op"), 99),
      "exec.action_op_s" -> durs("exec.action_op").sum,
      "exec.subprocess_s" -> durs("exec.subprocess").sum,
      "exec.subprocesses" -> durs("exec.subprocess").size.toDouble,
      "exec.subprocess_s.p99" -> pct(durs("exec.subprocess"), 99),
      "exec.log_lines" -> logLines.toDouble,
      "exec.self_s" -> selfOf("exec"),
      "engine.jobs" -> e.jobs.toDouble,
      "engine.stages" -> e.stages.toDouble,
      "engine.tasks" -> e.tasks.toDouble,
      "engine.failed_tasks" -> e.failedTasks.toDouble,
      "engine.task_run_s" -> e.runS,
      "engine.task_cpu_s" -> e.cpuS,
      "engine.task_wait_s" -> e.waitS,
      "engine.gc_s" -> e.gcS,
      "engine.core_util" -> (if (e.actionWallS > 0) e.runS / (e.actionWallS * cores) else 0.0),
      "engine.shuffle_write_mb" -> e.shuffleWriteB / 1e6,
      "engine.shuffle_read_mb" -> e.shuffleReadB / 1e6,
      "engine.spill_mb" -> e.spillB / 1e6,
      "engine.input_mb" -> e.inputB / 1e6,
      "engine.output_mb" -> e.outputB / 1e6,
      "trace.job_s" -> durs("job").sum)
  }
}
