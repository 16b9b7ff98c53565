package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed operation of a pass: what it was, how long it took, and
  * whether its output check passed (`error` is the reason when not). */
final case class Op(kind: String, seconds: Double, error: Option[String] = None)

/** A workload: inputs made in `setup` (repeatable, timed apart), then
  * passes of fixed work until the time budget is spent. */
trait Workload {
  /** Builds this run's inputs from scratch, discarding any earlier
    * ones; called several times. */
  def setup(): Unit
  /** Whether another pass can run (some workloads have finite inputs). */
  def hasNext: Boolean = true
  /** Warm passes measured even when the time budget is already spent;
    * `pass_s` is their median. JIT warm-up goes on for several passes,
    * so cheap passes run more of them. */
  def minWarm: Int = 3
  /** Set-ups after the cold pass; `setup_s` is their median. Cheap
    * set-ups run more of them, as JIT warm-up still shows in the first. */
  def setupReps: Int = 3
  /** One pass; `traced` asks for the layer-by-layer form. */
  def pass(traced: Boolean): Seq[Op]
  /** End-of-run output checks; each string is one failure. */
  def finalChecks(): Seq[String]
  /** Per-layer metrics from the traced warm passes' spans. */
  def layers(warm: Seq[Seq[Span]]): Map[String, Double]
  /** Extra end-of-run facts for the details record. */
  def details(ops: Seq[Op]): Map[String, Any] = Map.empty
}

final case class Conf(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, smoke: Boolean, work: Path, out: Path)

object Main {
  def parse(args: Array[String]): Conf = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", kv.get("smoke").contains("1"),
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath)
  }

  def session(c: Conf, cores: Int): SparkSession = {
    val b = GraftSession.builder(master = s"local[$cores]", shufflePartitions = Some(cores))
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .config("spark.local.dir", c.work.resolve("spark-local").toString)
    if (c.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, c: Conf): Workload = name match {
    case "ga_daily" => new GaDaily(spark, c)
    case "ga_sessionize" => new GaSessionize(spark, c)
    case "query_mix" => QuerySet.queryMix(spark, c)
    case "lake_churn" => new LakeChurn(spark, c)
    case "llm_ops" => QuerySet.llmOps(spark, c)
    case other => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    Files.createDirectories(c.work); Files.createDirectories(c.out)
    val env0 = Env.record()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = session(c, cores)
    val startS = Stats.secs(t0)
    Trace.install(spark)
    val w = workload(c.workload, spark, c)

    val setupCpu = mutable.ArrayBuffer.empty[Double]
    def timedSetup(): Double = {
      val c0 = Env.cpuSeconds
      val s0 = System.nanoTime(); w.setup()
      setupCpu += Env.cpuSeconds - c0
      Stats.secs(s0)
    }
    val ops = mutable.ArrayBuffer.empty[Op]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    def timedPass(traced: Boolean): (Double, Seq[Span]) = {
      Trace.setEnabled(traced)
      val before = Trace.all.size
      val c0 = Env.cpuSeconds
      val p0 = System.nanoTime()
      val done = Trace.span("pass")(w.pass(traced))
      ops ++= done
      val secs = Stats.secs(p0)
      passCpu += Env.cpuSeconds - c0
      System.err.println(f"[perfbench] pass ${if (traced) "traced" else "plain"} $secs%.2f s: " +
        done.groupBy(_.kind).map { case (k, os) => f"$k ${os.size} x ${os.map(_.seconds).sum / os.size}%.3f s" }
          .mkString(", ") + (if (done.exists(_.error.nonEmpty)) s" FAILED ${done.flatMap(_.error).head}" else ""))
      (secs, Trace.all.drop(before))
    }
    // one set-up, then the cold pass: the first work this JVM does on
    // the workload's code paths (a traced run traces it, so JIT and
    // codegen land in its spans). The set-ups `setup_s` reports come
    // after it, each rebuilding the inputs the warm passes use.
    val coldSetupS = timedSetup()
    Env.resetPeakRss()
    val (coldS, coldSpans) = timedPass(c.trace)
    Trace.setEnabled(false)
    val coldPeakMb = Env.peakRssMb
    val setups = Seq.fill(w.setupReps)(timedSetup())
    System.err.println(s"[perfbench] spark start $startS s, set-ups $coldSetupS (cold), " +
      s"${setups.mkString(", ")} s")
    Env.resetPeakRss()
    // the passes measure `--seconds` in all, cold pass included
    val deadline = System.nanoTime() + ((c.seconds - coldS) * 1e9).toLong
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Double, Seq[Span])]
    // a traced run brackets its traced pass with plain ones, so the
    // tracing overhead is not the warm-up still going on between passes
    def needMore = if (c.trace) plain.size < 2 || traced.isEmpty else plain.size < w.minWarm
    while (w.hasNext && (System.nanoTime() < deadline || needMore)) {
      if (!c.trace || plain.size <= traced.size) plain += timedPass(false)._1
      else traced += timedPass(true)
    }
    Trace.setEnabled(false)
    val failures = ops.flatMap(_.error) ++
      (try w.finalChecks() catch { case NonFatal(e) => Seq(s"final checks: $e") })
    val attempted = ops.size + 1

    val metrics: Map[String, (Double, String)] =
      if (!c.trace) Map(
        "setup_s" -> (Stats.median(setups) -> "s"),
        "cold_pass_s" -> (coldS -> "s"),
        "pass_s" -> (Stats.median(plain.toSeq) -> "s"),
        // process CPU seconds, all threads: the work, steady under the
        // host's speed drift that moves the wall times
        "cold_pass_cpu_s" -> (passCpu.head -> "s"),
        "pass_cpu_s" -> (Stats.median(passCpu.drop(1).toSeq) -> "s"),
        // the passes' peak: the high-water mark is reset after set-up
        "peak_rss_mb" -> (math.max(coldPeakMb, Env.peakRssMb) -> "MB"))
      else {
        val warmSpans = traced.map(_._2).toSeq
        val overhead = Stats.median(traced.map(_._1).toSeq) - Stats.median(plain.toSeq)
        val cold = coldSpans.find(_.name == "pass").map(_.deltas).getOrElse(Map.empty)
        (w.layers(warmSpans) ++ Map(
          "jvm.jit_s" -> cold.getOrElse("jit_s", 0.0),
          "jvm.gc_s" -> cold.getOrElse("gc_s", 0.0),
          "spark.codegen_compile_s" -> cold.getOrElse("codegen_s", 0.0),
          "trace.overhead_s" -> overhead))
          .map { case (k, v) => k -> (v -> Layers.unit(k)) }
      }
    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      val xs = os.map(_.seconds).toSeq
      k -> (Map("n" -> xs.size, "p50_s" -> Stats.median(xs)) ++
        Stats.tail(xs).map { case (p, v) => s"p${p}_s" -> v })
    }.toMap
    if (c.trace) Files.writeString(c.out.resolve(s"trace-${c.workload}-${c.seed}.json"), Trace.toJson)
    val details = Map[String, Any](
      "spark_start_s" -> startS, "cold_setup_s" -> coldSetupS, "setup_runs_s" -> setups,
      "cold_pass_s" -> coldS, "warm_passes_s" -> plain.toSeq,
      "traced_passes_s" -> traced.map(_._1).toSeq, "ops" -> byKind,
      "setup_cpu_s" -> setupCpu.toSeq, "pass_cpu_s" -> passCpu.toSeq,
      "error_rate" -> failures.size.toDouble / attempted,
      "failures" -> failures.take(20)) ++ w.details(ops.toSeq)
    val result = Json.obj(Seq(
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failures.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "details" -> details, "env_before" -> env0, "env_after" -> Env.record()))
    println("PERFBENCH_RESULT " + result)
    spark.stop()
  }
}

/** Per-layer metric helpers. */
object Layers {
  /** Plan, scheduling and filesystem metrics, averaged per operation
    * span (a query, a commit, a read). */
  def perOp(ops: Seq[Span]): Map[String, Double] = {
    def mean(k: String) = if (ops.isEmpty) 0.0 else ops.map(_.deltas.getOrElse(k, 0.0)).sum / ops.size
    Map(
      "plans.analysis_s" -> mean("analysis_s"),
      "plans.optimization_s" -> mean("optimization_s"),
      "plans.planning_s" -> mean("planning_s"),
      "plans.exchanges_per_query" -> mean("exchanges"),
      "spark.jobs_per_query" -> mean("jobs"),
      "spark.stages_per_query" -> mean("stages"),
      "spark.tasks_per_query" -> mean("tasks"),
      "spark.scheduler_delay_s" -> mean("sched_delay_s"),
      "spark.task_cpu_s" -> mean("task_cpu_s"),
      "sources.fs.list_calls_per_op" -> mean("fs_lists"),
      "sources.fs.read_ops_per_op" -> mean("fs_read_ops"))
  }

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_rewritten")) "bytes"
    else if (name.endsWith("ratio") || name.endsWith("write_amp")) "ratio"
    else "count"
}

/** The per-run environment record: explains noise, never filters it. */
object Env {
  @volatile private var sink = 0L

  /** Fixed single-thread CPU work (xorshift), seconds. */
  def cpuTick(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink ^= x
    Stats.secs(t0)
  }

  /** Fixed dependent random reads over a 64 MiB array, seconds. */
  def memTick(): Double = {
    val a = new Array[Long](8 * 1024 * 1024)
    var i = 0
    while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    val mask = a.length - 1
    var x = 0x2545F4914F6CDD1DL; var acc = 0L
    val t0 = System.nanoTime()
    i = 0
    while (i < 2000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc ^= a(((x >>> 3) & mask).toInt); i += 1
    }
    sink ^= acc
    Stats.secs(t0)
  }

  /** CPU seconds this process has used, all threads. */
  def cpuSeconds: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM) since the last
    * [[resetPeakRss]], MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Resets VmHWM to the current resident set (Linux `clear_refs` 5). */
  def resetPeakRss(): Unit = Files.writeString(Paths.get("/proc/self/clear_refs"), "5")

  def record(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "load_avg_1m" -> loadAvg,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "cpu_tick_s" -> cpuTick(), "mem_tick_s" -> memTick())
}
