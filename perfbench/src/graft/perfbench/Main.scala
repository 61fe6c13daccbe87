package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.OperatorCaches

/** What one workload run reports: end-to-end metrics, per-layer
  * metrics, the sizes of its inputs, readable notes, and every
  * attempted and failed operation.
  */
final class Result {
  val e2eMetrics, layerMetrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val inputs = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val notes = scala.collection.mutable.ArrayBuffer.empty[String]
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted, failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)
  def input(name: String, v: Any): Unit = inputs(name) = v
  def note(s: String): Unit = notes += s

  def count(rec: Recorder): Unit = synchronized {
    attempted += rec.attempted.sum
    failed += rec.failed.sum
    failures ++= rec.failures.asScala.take(20 - failures.length)
  }

  def fail(what: String): Unit = synchronized {
    attempted += 1; failed += 1
    if (failures.length < 20) failures += what
  }

  /** A latency line named like `find_p50_ms`, with its sample count and
    * how many samples lie beyond each percentile.
    */
  def pct(kind: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) note(f"${kind}_p50_ms ${Stats.median(xs)}%.3f ms, ${kind}_p95_ms " +
      f"${Stats.pct(xs, 95)}%.3f ms (n=${xs.length}, beyond p50 ${Stats.beyond(xs, 50)}, " +
      f"beyond p95 ${Stats.beyond(xs, 95)})")

  /** The traced phase's Spark metrics, per operation. */
  def spark(p: SparkProbe, ops: Long): Unit = {
    val ph = p.phases
    def mean(f: p.Phases => Double) = Stats.mean(ph.map(f))
    layer("spark.analysis_ms", mean(_.analysisMs), "ms")
    layer("spark.optimization_ms", mean(_.optimizationMs), "ms")
    layer("spark.planning_ms", mean(_.planningMs), "ms")
    layer("spark.execution_ms", mean(_.executionMs), "ms")
    layer("spark.executions", ph.length.toDouble, "count")
    layer("spark.jobs_per_op", p.jobs.sum.toDouble / ops, "count")
    layer("spark.stages_per_op", p.stages.sum.toDouble / ops, "count")
    layer("spark.tasks_per_op", p.tasks.sum.toDouble / ops, "count")
    layer("spark.task_ms", p.taskMs.sum.toDouble / ops, "ms")
    layer("spark.scheduler_delay_ms", p.schedulerDelayMs.sum.toDouble / ops, "ms")
    layer("spark.gc_ms", p.gcMs.sum.toDouble / ops, "ms")
    layer("spark.shuffle_read_bytes", p.shuffleReadBytes.sum.toDouble / ops, "bytes")
    layer("spark.shuffle_write_bytes", p.shuffleWriteBytes.sum.toDouble / ops, "bytes")
    layer("spark.spill_bytes", p.spillBytes.sum.toDouble / ops, "bytes")
    layer("spark.peak_exec_memory_bytes", p.peakExecMemory.get.toDouble, "bytes")
  }

  /** Self time per span name, largest first, as readable notes. */
  def selfTime(t: Tracer): Unit = {
    val self = t.selfMs.toSeq.sortBy(-_._2)
    val total = math.max(1e-9, self.map(_._2).sum)
    note("self time by span (traced phase):")
    self.foreach { case (n, ms) =>
      note(f"  $n%-28s ${ms}%10.1f ms ${100 * ms / total}%5.1f %%")
    }
  }

  def write(path: Path): Unit = {
    val m = Http.mapper
    val root = m.createObjectNode()
    root.put("attempted", attempted)
    root.put("failed", failed)
    def metrics(name: String, xs: Iterable[(String, (Double, String))]): Unit = {
      val o = root.putObject(name)
      xs.foreach { case (k, (v, u)) => o.putObject(k).put("value", v).put("unit", u) }
    }
    metrics("e2e", e2eMetrics)
    metrics("layer", layerMetrics)
    val in = root.putObject("inputs")
    inputs.foreach { case (k, v) => in.put(k, String.valueOf(v)) }
    val ns = root.putArray("notes"); notes.foreach(ns.add)
    val fs = root.putArray("failures"); failures.foreach(fs.add)
    Files.writeString(path, m.writerWithDefaultPrettyPrinter.writeValueAsString(root))
  }
}

/** Everything a workload needs from the command line and the session. */
final class Env(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val dir: Path, val traceFile: Path, val sessionS: Double,
    val out: Result)

object Env {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def treeBytes(p: Path): Double = {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
    finally s.close()
  }

  /** Heap still in use after a full collection: the least of five
    * collect-then-read rounds 200 ms apart, because Spark drops cached
    * blocks asynchronously after an unpersist.
    */
  def liveHeapMb(): Double = (1 to 5).map { _ =>
    System.gc()
    val mb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Thread.sleep(200)
    mb
  }.min
}

/** Entry point: one workload, one fresh JVM, one fresh lake root.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 --dir RUN_DIR
  *      --result FILE --trace-file FILE [--tables DIR --gen-seconds G]
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(opt("dir"), "spark-local").toString)
    graft.Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val out = new Result
    val env = new Env(spark, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", Paths.get(opt("dir")), Paths.get(opt("trace-file")), sessionS, out)
    out.input("seed", env.seed)
    out.input("nproc", cpus)
    out.input("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576)
    out.input("jdk", System.getProperty("java.version"))
    out.input("spark", spark.version)
    // no workload may inherit another's trained models or cached frames
    OperatorCaches.release(spark)
    val code =
      try {
        opt("workload") match {
          case "lake_read" => new LakeRead(env).run()
          case "lake_write" => new LakeWrite(env).run()
          case "extract_scan" => new ExtractScan(env).run()
          case "analytic_mix" =>
            new AnalyticMix(env, opt("tables"), opt("gen-seconds").toDouble).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        OperatorCaches.release(spark)
        out.write(Paths.get(opt("result")))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    // nothing is left to flush: skip Spark's orderly shutdown (the
    // caller deletes the run directory), and the HTTP server's
    // non-daemon request pool with it
    Runtime.getRuntime.halt(code)
  }
}
