package graft

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark ran while a body ran: the jobs it started, their tasks,
  * and the executed plans of the SQL executions that succeeded. */
object SparkWatch {
  final case class Seen(jobs: Int, tasks: Int, plans: Seq[SparkPlan]) {
    /** Shuffle and broadcast exchanges anywhere in the plans, adaptive
      * query stages included. */
    def exchanges: Seq[SparkPlan] = plans.flatMap(p => Helper.collect(p) {
      case e: ShuffleExchangeExec => e
      case e: BroadcastExchangeExec => e
    })
  }

  private object Helper extends AdaptiveSparkPlanHelper

  private val Marker = "spark-watch-marker"

  /** Runs `body`. A marker job (a plain RDD job, no SQL execution)
    * closes the window: both listeners sit on the listener bus's shared
    * queue, which is FIFO, so once the marker's start is seen every
    * earlier event has been delivered too. */
  def during(spark: SparkSession)(body: => Unit): Seen = {
    val starts = new LinkedBlockingQueue[(String, Int)]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put((Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""), e.stageInfos.map(_.numTasks).sum))
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    try {
      body
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var (n, tasks) = (0, 0)
      var d = starts.poll(30, TimeUnit.SECONDS)
      while (d != null && d._1 != Marker) {
        n += 1
        tasks += d._2
        d = starts.poll(30, TimeUnit.SECONDS)
      }
      assert(d != null, "marker job never reached the listener")
      Seen(n, tasks, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(jobs)
    }
  }
}
