package graft.perfbench

import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry
import graft.operators.OperatorCaches

/** `analytic_mix`: one serial stream of 12 named queries over seeded
  * tables, one cold pass, then as many warm passes as fit in `seconds`
  * (at least one).
  * Each execution runs the query's own plan and collects every row
  * (not `count()`, which plans a derived aggregate). Outputs are
  * checked after the timed passes: rows go to parquet for the DuckDB
  * oracles, and every pass must return the same rows as the first.
  *
  * Traced run: the cold pass and every second warm pass run with a
  * span per query and the listeners installed; the warm passes in
  * between run without, and the difference is the tracing overhead.
  */
final class AnalyticMix(env: Env, tablesDir: String, genSeconds: Double) {
  private val spark = env.spark
  private val out = env.out

  /** One query per ROADMAP direction; see perfbench/METRICS.md. */
  val names = Seq("q21_waiting_suppliers", "text_tfidf", "dedup_minhash_lsh",
    "graph_kcore", "ann_ivfpq_topk", "cid_ingest", "bucketed_join", "asof_join_native",
    "qast_group_having")

  private final case class Exec(rows: Array[Row], df: DataFrame, seconds: Double)

  private def execute(name: String, tracer: Tracer): Either[String, Exec] =
    try tracer.request("query." + name) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, tablesDir)
      val rows = df.collect()
      Right(Exec(rows, df, (System.nanoTime() - t0) / 1e9))
    } catch { case e: Exception => Left(s"$name: $e") }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def run(): Unit = {
    var rows = Map.empty[String, Long]
    val setupS = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      rows = graft.Tables.names.map(t => t -> graft.Tables.load(spark, tablesDir, t).count()).toMap
      (System.nanoTime() - t0) / 1e9
    }
    out.e2e("setup_s", env.sessionS + genSeconds + Stats.median(setupS), "s")
    out.note(f"setup: session ${env.sessionS}%.3f s, generate $genSeconds%.3f s, " +
      s"load ${setupS.map(s => f"$s%.3f").mkString(" ")} s (median of 2)")
    out.input("queries", names.length)
    graft.Tables.names.foreach(t => out.input(s"${t}_rows", rows(t)))

    val sc = spark.sparkContext
    val traced = new Tracer(env.traced, sc)
    val untraced = new Tracer(false, sc)
    val probe = if (env.traced) Some(new SparkProbe(spark).install()) else None
    val last = scala.collection.mutable.Map.empty[String, Exec]
    val digests = scala.collection.mutable.Map.empty[String, String]
    val execMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

    def pass(tracer: Tracer): Map[String, Double] = names.flatMap { name =>
      execute(name, tracer) match {
        case Left(err) => out.fail(err); None
        case Right(e) =>
          val d = digest(e.rows)
          if (digests.getOrElseUpdate(name, d) != d) out.fail(s"$name: rows differ between passes")
          else out.attempted += 1
          if (tracer.enabled) SparkProbe.execMs(e.df.queryExecution.executedPlan)
            .foreach { case (k, v) => execMs(k) += v }
          last(name) = e
          Some(name -> e.seconds)
      }
    }.toMap

    val cold = pass(traced)
    val warm = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val warmTraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val warmUntraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var passes = 0
    var warmSeconds = 0.0
    // another pass only if it fits in `seconds` at the last pass's pace:
    // a pass that straddles the deadline would make the pass count, and
    // with it the warm-up, differ between runs
    def fits = (System.nanoTime() - t0) / 1e9 * (passes + 1) / passes <= env.seconds
    while (passes == 0 || fits) {
      // traced runs alternate: even passes untraced, odd passes traced
      val isTraced = env.traced && passes % 2 == 1
      val p = pass(if (isTraced) traced else untraced)
      if (isTraced) warmTraced += p.values.sum
      else {
        warmUntraced += p.values.sum
        p.foreach { case (n, s) => warm(n) ::= s }
        warmSeconds += p.values.sum
      }
      passes += 1
    }
    if (env.traced && warmTraced.isEmpty) {
      warmTraced += pass(traced).values.sum; passes += 1
    }
    probe.foreach(_.uninstall())
    // what the session keeps between bursts, once the operator caches
    // and trained models are released as a serving process would
    OperatorCaches.release(spark)
    out.e2e("live_heap_mb", Env.liveHeapMb(), "MB")

    val warmMedian = names.map(n => n -> Stats.median(warm(n))).toMap
    val execs = warm.values.flatten.toSeq.map(_ * 1000)
    out.e2e("ops_per_s", execs.length / warmSeconds, "ops/s")
    out.e2e("latency_ms", 1000 * warmMedian.values.sum, "ms")
    out.note(f"query_total_s ${warmMedian.values.sum}%.3f s (sum of per-query warm medians, " +
      s"${warmUntraced.length} untraced warm passes), query_cold_total_s " +
      f"${cold.values.sum}%.3f s")
    out.pct("query", execs)
    out.note("per query, cold / warm median s: " + names.map(n =>
      f"$n ${cold.getOrElse(n, 0.0)}%.2f/${warmMedian(n)}%.2f").mkString(", "))
    out.input("warm_passes", passes)
    names.foreach { n =>
      out.layer(s"query.${n}_s", warmMedian(n), "s")
      out.layer(s"query.${n}_cold_s", cold.getOrElse(n, 0.0), "s")
    }
    out.layer("query.total_s", warmMedian.values.sum, "s")
    out.layer("query.cold_total_s", cold.values.sum, "s")
    if (env.traced) {
      val a = Stats.median(warmUntraced.toSeq)
      val b = Stats.median(warmTraced.toSeq)
      out.layer("trace.overhead_pct", 100 * (b / a - 1), "%")
      out.note(f"tracing overhead: warm pass $a%.3f s untraced, $b%.3f s traced " +
        f"(${100 * (b / a - 1)}%+.1f %%)")
      out.spark(probe.get, math.max(1, traced.all.count(_.parent == 0)))
      out.note("exec node SQL-metric time, top 10 (traced passes):")
      execMs.toSeq.sortBy(-_._2).take(10).foreach { case (k, v) =>
        out.note(f"  exec.${k}_ms $v%.1f ms")
      }
      out.selfTime(traced)
      traced.write(env.traceFile)
    }

    // outputs for the oracle check, written after the timed passes
    val check = env.dir.resolve("check")
    Files.createDirectories(check)
    val oracles = Http.mapper.createObjectNode()
    last.foreach { case (n, e) =>
      spark.createDataFrame(e.rows.toSeq.asJava, e.df.schema)
        .write.parquet(check.resolve(n).toString)
      SparkEntry.oracleSql.get(n) match {
        case Some(sql) => oracles.put(n, sql)
        case None => out.note(s"$n: no oracle; ${e.rows.length} rows, digest ${digests(n)}, " +
          "identical on every pass")
      }
      out.input(s"rows_$n", e.rows.length)
    }
    Files.writeString(check.resolve("oracle_sql.json"), oracles.toString)
  }
}
