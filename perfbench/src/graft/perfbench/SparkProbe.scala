package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of Spark: a `SparkListener` for jobs, stages
  * and task metrics, and a `QueryExecutionListener` for the planning
  * phases of every executed query. A job is attributed to the span
  * named by its [[Tracer.JobTag]] local property; jobs without one
  * (background schema inference, work on the HTTP server's threads)
  * count as untagged.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private def adder() = new LongAdder
  val jobs, untaggedJobs, jobsEnded, stages, tasks = adder()
  val taskMs, schedulerDelayMs, gcMs = adder()
  val shuffleReadBytes, shuffleWriteBytes, spillBytes = adder()
  val peakExecMemory = new AtomicLong(0)
  /** Jobs per span id (the tag), for "did this call launch Spark?". */
  private val jobsBySpan = new ConcurrentHashMap[Long, LongAdder]()
  private val events = new AtomicLong(0)

  final case class Phases(analysisMs: Double, optimizationMs: Double,
      planningMs: Double, executionMs: Double)
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[Phases]()

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Listener events arrive asynchronously: wait until every started
    * job has ended and no event arrived for 200 ms (at most 10 s).
    */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    while (System.nanoTime() < deadline &&
        !(events.get == last && jobs.sum == jobsEnded.sum)) {
      last = events.get
      Thread.sleep(200)
    }
  }

  def jobsIn(spanId: Long): Long =
    Option(jobsBySpan.get(spanId)).fold(0L)(_.sum)

  def phases: Seq[Phases] = executions.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobs.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobTag))) match {
      case Some(tag) =>
        jobsBySpan.computeIfAbsent(tag.toLong, _ => new LongAdder).increment()
      case None => untaggedJobs.increment()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet(); jobsEnded.increment()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet(); stages.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    tasks.increment()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      taskMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      // the Spark UI's definition: wall time not spent deserializing,
      // running, serializing the result or fetching it
      if (info != null && info.finishTime > 0) schedulerDelayMs.add(math.max(0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)))
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMemory.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    events.incrementAndGet()
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).fold(0.0)(_.durationMs.toDouble)
    executions.add(Phases(ms("analysis"), ms("optimization"), ms("planning"),
      durationNs / 1e6))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = events.incrementAndGet()
}

object SparkProbe {
  /** SQL-metric time in ms summed per physical node type over an
    * executed plan, following adaptive plans into their final stages.
    */
  def execMs(plan: SparkPlan): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => // counted where it first ran
      case other =>
        val t = other.metrics.values.iterator.map { m =>
          m.metricType match {
            case "timing" => m.value.toDouble
            case "nsTiming" => m.value / 1e6
            case _ => 0.0
          }
        }.sum
        // one entry per node type: "WholeStageCodegen (3)" and "Scan
        // parquet spark_catalog.default.t" name their instance
        val words = other.nodeName.replaceAll("\\s*\\(\\d+\\)$", "").trim.split(' ')
        val name = words.take(if (words.head == "Scan") 2 else 1).mkString("_")
        if (t > 0) acc(name) = acc.getOrElse(name, 0.0) + t
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    acc.toMap
  }
}
