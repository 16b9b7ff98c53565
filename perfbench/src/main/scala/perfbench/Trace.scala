package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark task/stage/job totals, fed by the listener bus. Written only
  * by the bus thread; read after [[Trace.snapshot]] drains the bus. */
final class SparkCounters extends SparkListener {
  @volatile var jobs, stages, tasks = 0L
  @volatile var shuffleWrite, shuffleRead, spill = 0L
  @volatile var cpuNs, schedDelayMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      // the Spark UI's scheduler delay: task wall time not spent
      // running, (de)serializing or fetching the result
      val i = e.taskInfo
      val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch)
    }
  }
}

/** Per-query plan statistics: the planning tracker's phases and the
  * exchanges left in the executed plan. */
final class QueryCounters extends QueryExecutionListener {
  @volatile var executions, exchanges = 0L
  @volatile var analysisMs, optimizationMs, planningMs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    executions += 1
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
    exchanges += QueryCounters.exchanges(qe.executedPlan)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object QueryCounters {
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case o => (o.children ++ o.subqueries).map(exchanges).sum
  }
}

/** The local filesystem with call counters: list calls and read calls
  * (open, status) anywhere, and wall time inside calls on the commit logs
  * (`_graft_manifest`, `_graft_group`). Installed as `fs.file.impl`
  * in traced runs only; counts only while [[CountingFs.on]]. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  /** Counts the call (when `counter` is given) and adds its wall time to
    * `logNs` when it touches a commit log; nested calls count once. */
  private def timed[T](p: Path, counter: Option[AtomicLong] = None)(body: => T): T =
    if (!on || depth.get > 0) body
    else {
      counter.foreach(_.incrementAndGet())
      val log = isLog(p)
      val t0 = System.nanoTime()
      depth.set(depth.get + 1)
      try body
      finally {
        depth.set(depth.get - 1)
        if (log) logNs.addAndGet(System.nanoTime() - t0)
      }
    }

  override def listStatus(f: Path): Array[FileStatus] = timed(f, Some(lists))(super.listStatus(f))
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    timed(f, Some(lists))(super.listStatus(f, filter))
  override def listLocatedStatus(f: Path) = timed(f, Some(lists))(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path) = timed(f, Some(lists))(super.listStatusIterator(f))
  override def globStatus(p: Path): Array[FileStatus] = timed(p, Some(lists))(super.globStatus(p))
  override def open(f: Path, bufferSize: Int) = timed(f, Some(readOps))(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus = timed(f, Some(readOps))(super.getFileStatus(f))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable) = {
    if (on && f.getName.startsWith("manifest-") && f.getName.endsWith(".tmp"))
      commitAttempts.incrementAndGet()
    if (on && f.getName.endsWith(".parquet")) parquetCreates.incrementAndGet()
    timed(f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  }
  override def rename(src: Path, dst: Path): Boolean = {
    val ok = timed(src)(super.rename(src, dst))
    if (on && !ok && isLog(dst)) failedClaims.incrementAndGet()
    ok
  }
  override def delete(f: Path, recursive: Boolean): Boolean = timed(f)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = timed(f)(super.mkdirs(f, permission))
}

object CountingFs {
  @volatile var on = false
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  val lists, readOps = new AtomicLong
  val commitAttempts, failedClaims, parquetCreates, logNs = new AtomicLong
  def isLog(p: Path): Boolean = {
    val s = p.toUri.getPath
    s.contains("/_graft_manifest") || s.contains("/_graft_group")
  }
}

/** One traced interval. `deltas` are counter movements inside it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, deltas: Map[String, Double])

/** Spans around the benchmark's calls into each graft layer, kept in
  * memory and written when the run ends. Off (a plain call) unless the
  * run is traced. */
object Trace {
  @volatile private var spark: SparkSession = _
  private var sparkC: SparkCounters = _
  private var queryC: QueryCounters = _
  private var active = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  val t0: Long = System.nanoTime()

  def install(s: SparkSession): Unit = {
    spark = s
    sparkC = new SparkCounters
    queryC = new QueryCounters
  }

  def enabled: Boolean = active

  /** Spans, listeners and filesystem counting all switch together, so
    * an untraced pass inside a traced run pays none of them. */
  def setEnabled(on: Boolean): Unit = {
    if (spark != null) {
      if (on && !active) {
        spark.sparkContext.addSparkListener(sparkC)
        spark.listenerManager.register(queryC)
      } else if (!on && active) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(sparkC)
        spark.listenerManager.unregister(queryC)
      }
    }
    active = on
    CountingFs.on = on
  }

  private def fsStats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")

  /** Cumulative counters, after the listener bus has drained. */
  def snapshot(): Map[String, Double] = {
    if (spark != null) PerfbenchBus.drain(spark.sparkContext)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val s = sparkC; val q = queryC
    Map(
      "jobs" -> s.jobs.toDouble, "stages" -> s.stages.toDouble,
      "tasks" -> s.tasks.toDouble,
      "shuffle_bytes" -> (s.shuffleWrite + s.shuffleRead).toDouble,
      "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
      "spill_bytes" -> s.spill.toDouble,
      "task_cpu_s" -> s.cpuNs / 1e9, "sched_delay_s" -> s.schedDelayMs / 1e3,
      "executions" -> q.executions.toDouble, "exchanges" -> q.exchanges.toDouble,
      "analysis_s" -> q.analysisMs / 1e3, "optimization_s" -> q.optimizationMs / 1e3,
      "planning_s" -> q.planningMs / 1e3,
      "fs_lists" -> CountingFs.lists.get.toDouble,
      "fs_read_ops" -> CountingFs.readOps.get.toDouble,
      "fs_log_s" -> CountingFs.logNs.get / 1e9,
      "commit_attempts" -> CountingFs.commitAttempts.get.toDouble,
      "commit_retries" -> CountingFs.failedClaims.get.toDouble,
      "parquet_files" -> CountingFs.parquetCreates.get.toDouble,
      "bytes_written" -> fsStats.map(_.getBytesWritten).sum.toDouble,
      "bytes_read" -> fsStats.map(_.getBytesRead).sum.toDouble,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "gc_s" -> gcMs / 1e3,
      "codegen_s" -> CodeGenerator.compileTime / 1e9)
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val before = snapshot()
      val start = System.nanoTime()
      try body
      finally {
        val after = snapshot()
        val end = System.nanoTime()
        open = open.tail
        spans += Span(id, parent, name, start, end,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time: the span's duration minus the union of its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var curS = 0L; var curE = -1L
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = spans.map { s =>
    Json.obj(Seq[(String, Any)]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "self_s" -> selfSeconds(s), "deltas" -> Json.obj(s.deltas.toSeq.sortBy(_._1))))
  }.mkString("[\n", ",\n", "\n]")
}
