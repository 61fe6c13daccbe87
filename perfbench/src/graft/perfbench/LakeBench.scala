package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.LakeServer
import graft.engine.Lake
import graft.qast.{Ast, Evaluator}
import graft.store.{Catalog, Cid}

/** Shared machinery of the three lake workloads: preload into a fresh
  * root (timed, several times, as set-up), one `LakeServer` on an
  * ephemeral loopback port, a warm-up, then the measured phases.
  *
  * Untraced run: one HTTP phase of `seconds`. Traced run: three phases
  * of `seconds / 3` over the same request streams — HTTP untraced (A),
  * HTTP with a span per request and the listeners installed (B, whose
  * difference from A is the tracing overhead), and in-process calls
  * into each layer with a span around every call (C, the per-layer
  * numbers; Spark jobs that no span submitted are background work).
  */
abstract class LakeWorkload(env: Env) {
  val spark: SparkSession = env.spark
  val out: Result = env.out
  /** Bytes users uploaded (duplicates included), for space ratios. */
  val userBlobBytes, userMetaBytes = new LongAdder

  /** Generate inputs; runs once, outside every timed region. */
  def generate(rng: Rng): Unit
  /** Load the generated inputs into a lake at `root`. */
  def preload(root: Path): Lake
  /** Fresh closed-loop clients for one phase. Readers replay the same
    * streams in every phase; writers continue with new bytes.
    */
  def clients(ctx: Ctx): Seq[LoopClient]
  /** Request kinds whose latency is the workload's headline. */
  def primary: Seq[String]
  /** Report this workload's end-to-end metrics from phase A. */
  def endToEnd(a: Recorder, wall: Double): Unit
  /** Report per-layer metrics from phases A and C. */
  def layers(a: Ctx, c: Ctx): Unit

  val setupReps = 2
  val warmupSeconds = 1.5

  /** One phase: its recorder, tracer, listeners and counters. */
  final class Ctx(val lake: Lake, val http: Http, val tracer: Tracer,
      val probe: Option[SparkProbe]) {
    val rec = new Recorder
    val respBytes, finds = new LongAdder
    val adds, dedupAdds = new LongAdder
    val rowsExamined, resultRows = new LongAdder
    /** Snapshot rows for the closure-evaluator timing (lake_read). */
    @volatile var snapshot: Seq[Evaluator.Row] = Nil

    /** Run `body` as one request: a root span when traced, with an
      * `api.<kind>` child around the HTTP call in mode B.
      */
    def call[T](mode: Mode, kind: String)(body: => T): T = mode match {
      case Mode.TracedHttp => tracer.request(kind)(tracer.span("api." + kind)(body))
      case _ => body
    }
  }

  def run(): Unit = {
    val rng = new Rng(env.seed)
    val g0 = System.nanoTime()
    generate(rng)
    val genS = (System.nanoTime() - g0) / 1e9
    val roots = (0 until setupReps).map(i => env.dir.resolve(s"lake$i"))
    var lake: Lake = null
    val preloadS = roots.map { root =>
      if (lake != null) spark.catalog.clearCache()
      val t0 = System.nanoTime()
      lake = preload(root)
      (System.nanoTime() - t0) / 1e9
    }
    roots.init.foreach(Env.deleteTree)
    out.e2e("setup_s", env.sessionS + genS + Stats.median(preloadS), "s")
    out.note(f"setup: session ${env.sessionS}%.3f s, generate $genS%.3f s, " +
      s"preload ${preloadS.map(s => f"$s%.3f").mkString(" ")} s (median of $setupReps)")

    val server = LakeServer.start(lake, 0)
    try {
      val http = new Http(s"http://127.0.0.1:${server.boundPort}")
      def phase(seconds: Double, mode: Mode, traced: Boolean): (Ctx, Double) = {
        val probe = if (traced) Some(new SparkProbe(spark).install()) else None
        val c = new Ctx(lake, http, new Tracer(traced, spark.sparkContext), probe)
        val wall = Loop.run(clients(c), seconds, mode, c.rec)
        probe.foreach(_.uninstall())
        out.count(c.rec)
        (c, wall)
      }
      phase(warmupSeconds, Mode.Http, traced = false)
      val seconds = if (env.traced) env.seconds / 3 else env.seconds
      val (a, wallA) = phase(seconds, Mode.Http, traced = false)
      endToEnd(a.rec, wallA)
      // rebuild the snapshot first: whether the last request left it
      // built would otherwise decide the number
      lake.findLocal("true")
      out.e2e("live_heap_mb", Env.liveHeapMb(), "MB")
      if (env.traced) {
        val (b, _) = phase(seconds, Mode.TracedHttp, traced = true)
        val pa = Stats.median(a.rec.ms(primary: _*))
        val pb = Stats.median(b.rec.ms(primary: _*))
        out.layer("trace.overhead_pct", 100 * (pb / pa - 1), "%")
        out.note(f"tracing overhead: ${primary.mkString("/")} p50 $pa%.3f ms untraced, " +
          f"$pb%.3f ms traced (${100 * (pb / pa - 1)}%+.1f %%)")
        val (c, _) = phase(seconds, Mode.InProcess, traced = true)
        layers(a, c)
        out.spark(c.probe.get, math.max(1L, c.rec.count))
        out.selfTime(c.tracer)
        c.tracer.write(env.traceFile)
      }
    } finally server.stop()
    out.layer("store.bytes_per_user_byte",
      Env.treeBytes(lake.store.root) / math.max(1.0, userBlobBytes.sum.toDouble), "ratio")
    if (userMetaBytes.sum > 0) out.layer("catalog.bytes_per_user_byte",
      Env.treeBytes(env.dir.resolve(s"lake${setupReps - 1}").resolve("catalog")) /
        userMetaBytes.sum.toDouble, "ratio")
  }

  // --- shared request helpers ------------------------------------------

  /** Check a downloaded blob: same bytes as uploaded, hashing to its CID. */
  def blobError(got: Array[Byte], want: Array[Byte], cid: String,
      tracer: Tracer): Option[String] =
    if (!java.util.Arrays.equals(got, want)) Some(s"bytes differ (${got.length} vs ${want.length})")
    else if (tracer.span("store.cid")(Cid.ofBytes(got).cid) != cid) Some("bytes do not hash to cid")
    else None

  /** Check an inferred schema document names exactly these columns. */
  def schemaError(json: String, cols: Seq[String]): Option[String] = {
    val props = Http.mapper.readTree(json).path("items").path("properties")
    val got = props.fieldNames.asScala.toSet
    if (got == cols.toSet) None else Some(s"schema columns $got, want ${cols.toSet}")
  }

  def status(r: Http#Resp): Option[String] =
    if (r.ok) None else Some(s"HTTP ${r.status}: ${new String(r.body, UTF_8).take(120)}")

  /** Write the catalog's two parquet logs directly (one job each)
    * instead of replaying thousands of WAL appends: the preload is
    * set-up, not the workload.
    */
  def writeCatalog(root: Path, content: Seq[Catalog.ContentRow],
      datasets: Seq[GenDataset]): Unit = {
    import spark.implicits._
    val dir = root.resolve("catalog")
    content.toDS().repartition(1).write.parquet(dir.resolve("content").toString)
    datasets.map(d => Catalog.DatasetRow(d.id, d.file, d.description, d.source,
      d.topics, d.extra, d.parent, d.id)).toDS().repartition(1)
      .write.parquet(dir.resolve("dataset").toString)
  }

  def metaJson(d: GenDataset): String = {
    val extra = d.extra.map { case (k, v) => s""""$k":$v""" }
    (Seq(s""""file":"${d.file}"""", s""""description":"${d.description}"""",
      s""""source":"${d.source}"""", d.topics.map(Q.str).mkString(""""topics":[""", ",", "]")) ++
      extra).mkString("{", ",", "}")
  }
}

/** `lake_read`: a preloaded lake, no writes; 60 % `/find`, 30 %
  * `GET /file`, 10 % `GET /schema` on already-inferred CSVs.
  */
final class LakeRead(env: Env) extends LakeWorkload(env) {
  private sealed trait Req
  /** `pred`: a plain predicate, as opposed to a frame verb. */
  private final case class Find(json: String, expect: Expect, pred: Boolean) extends Req
  private final case class GetFile(cid: String, bytes: Array[Byte]) extends Req
  private final case class Schema(cid: String, cols: Seq[String]) extends Req

  private var blobs: IndexedSeq[Blob] = _
  private var streams: Seq[IndexedSeq[Req]] = _
  private var cids: IndexedSeq[String] = _
  private var datasets: IndexedSeq[GenDataset] = _
  private val nBlobs = 2000
  private val nDatasets = 10000
  private val nSchemas = 2

  def primary: Seq[String] = Seq("find")

  def generate(rng: Rng): Unit = {
    blobs = LakeGen.blobs(rng.split(), nBlobs)
    cids = blobs.map(b => Cid.ofBytes(b.bytes).cid)
    datasets = LakeGen.datasets(rng.split(), nDatasets, cids.distinct, cids.distinct.length + 1L)
    val byCid = cids.zip(blobs).toMap
    val schemaCids = cids.indices.filter(i => blobs(i).isCsv).take(nSchemas).map(cids)
    val blobZipf = new Zipf(nBlobs)
    streams = (0 until 2).map { _ =>
      val r = rng.split()
      val findKinds = r.blocks(Seq("eq" -> 3, "overlap" -> 2, "regex" -> 2, "group" -> 1,
        "top" -> 1, "project" -> 1), 4000).iterator
      r.blocks(Seq("find" -> 6, "get" -> 3, "schema" -> 1), 4000).map {
        case "find" => find(r, findKinds.next())
        case "get" => val c = cids(blobZipf.draw(r)); GetFile(c, byCid(c).bytes)
        case _ => val c = r.pick(schemaCids); Schema(c, byCid(c).columns)
      }
    }
    userBlobBytes.add(blobs.map(_.bytes.length.toLong).sum)
    userMetaBytes.add(datasets.map(metaJson(_).length.toLong).sum)
    out.input("blobs", nBlobs)
    out.input("blob_bytes", blobs.map(_.bytes.length.toLong).sum)
    out.input("catalog_rows", nDatasets)
    out.input("catalog_updates", datasets.count(_.parent.nonEmpty))
    out.input("requests_per_client", 4000)
  }

  private def ids(ds: Seq[GenDataset]): Seq[String] = ds.map(_.id.toString)

  private lazy val bySource = datasets.groupBy(_.source).withDefaultValue(Nil)
  private lazy val byTopic = datasets.flatMap(d => d.topics.map(_ -> d)).groupBy(_._1)
    .map { case (t, ds) => t -> ds.map(_._2) }.withDefaultValue(Nil)
  /** Versions by the first two words of their description. */
  private lazy val byPrefix = datasets.groupBy(_.description.split(' ').take(2).mkString(" "))
    .withDefaultValue(Nil)

  /** Query terms skip the Zipf heads (the 10 most common sources, the
    * 20 most common topics), so every seed asks selective questions of
    * the same size and the heads stay in the data only.
    */
  private def find(r: Rng, kind: String): Find = {
    val s = LakeGen.sources(r.between(10, LakeGen.sources.length - 1))
    def topic = LakeGen.topics(r.between(20, LakeGen.topics.length - 1))
    kind match {
      case "eq" =>
        Find(Q.eq("source", Q.str(s)), Expect.Values("id", ids(bySource(s))), true)
      case "overlap" =>
        val ts = Seq(topic, topic)
        Find(s"""["&&", ${Q.path("topics")}, [${ts.map(Q.str).mkString(", ")}]]""",
          Expect.Values("id", ids(ts.distinct.flatMap(byTopic).distinct)), true)
      case "regex" =>
        val prefix = s"${r.pick(LakeGen.adjectives)} ${r.pick(LakeGen.nouns)}"
        Find(s"""["~", ${Q.path("description")}, "$prefix .*"]""",
          Expect.Values("id", ids(byPrefix(prefix))), true)
      case "group" =>
        val t = topic
        Find(s"""["group", ["&&", ${Q.path("topics")}, ["$t"]], [${Q.path("source")}], ["count"]]""",
          Expect.Groups("source", byTopic(t).groupBy(_.source)
            .map { case (k, v) => k -> v.length.toLong }), false)
      case "top" =>
        Find(s"""["top", 5, [["desc", ${Q.path("id")}]], ${Q.eq("source", Q.str(s))}]""",
          Expect.Ordered("id", bySource(s).map(_.id).sorted.reverse.take(5).map(_.toString)),
          false)
      case _ =>
        Find(s"""["project", [["d", ${Q.path("description")}], ["i", ${Q.path("id")}]], """ +
          s"""${Q.eq("source", Q.str(s))}]""",
          Expect.Values("i", ids(bySource(s))), false)
    }
  }

  def preload(root: Path): Lake = {
    val store = new graft.store.ContentStore(root.resolve("cas"))
    blobs.foreach(b => store.add(b.bytes))
    val byCid = cids.zip(blobs).toMap
    val content = cids.distinct.zipWithIndex.map { case (c, i) =>
      Catalog.ContentRow(c, byCid(c).mime, Map.empty, i + 1L)
    }
    writeCatalog(root, content, datasets)
    val lake = new Lake(spark, root)
    // the /schema requests read inferences made here, as after upload
    cids.indices.filter(i => blobs(i).isCsv).take(nSchemas)
      .foreach(i => lake.schema(cids(i)))
    lake.findLocal("true")
    lake
  }

  def clients(ctx: Ctx): Seq[LoopClient] = {
    if (ctx.tracer.enabled) ctx.snapshot = ctx.lake.findLocal("true").toOption.get
    streams.map(reqs => new LoopClient {
      private var i = 0
      def step(mode: Mode, rec: Recorder): Unit = {
        val req = reqs(i % reqs.length); i += 1
        if (mode == Mode.InProcess) inProcess(req, ctx, rec) else overHttp(req, mode, ctx, rec)
      }
    })
  }

  private def overHttp(req: Req, mode: Mode, ctx: Ctx, rec: Recorder): Unit = req match {
    case Find(json, expect, _) =>
      ctx.call(mode, "find")(rec.timed("find")(ctx.http.post("/find", json)) { r =>
        ctx.respBytes.add(r.body.length); ctx.finds.increment()
        status(r).orElse(expect.check(Expect.fromJson(r.json)))
      })
    case GetFile(cid, bytes) =>
      ctx.call(mode, "get")(rec.timed("get")(ctx.http.get(s"/file/$cid")) { r =>
        status(r).orElse(blobError(r.body, bytes, cid, ctx.tracer))
      })
    case Schema(cid, cols) =>
      ctx.call(mode, "schema")(rec.timed("schema")(ctx.http.get(s"/schema/$cid")) { r =>
        status(r).orElse(schemaError(new String(r.body, UTF_8), cols))
      })
  }

  private def inProcess(req: Req, ctx: Ctx, rec: Recorder): Unit = {
    val t = ctx.tracer
    req match {
      case Find(json, expect, pred) => t.request("find") {
        rec.timed("find")(t.span("catalog.search_local")(ctx.lake.catalog.searchLocal(json))) {
          case Left(e) => Some(e.message)
          case Right(rows) => expect.check(Expect.fromRows(rows))
        }
        t.span("qast.parse")(Ast.parse(json))
        val snap = ctx.snapshot
        val n = t.span("qast.eval") {
          if (pred) { val p = Evaluator.fromJson(json).toOption.get; snap.count(p(_) == true) }
          else Evaluator.frame(snap, json).toOption.get.length
        }
        ctx.rowsExamined.add(snap.length); ctx.resultRows.add(n)
      }
      case GetFile(cid, bytes) => t.request("get") {
        rec.timed("get")(t.span("store.fetch") {
          val in = ctx.lake.fetch(cid)
          try in.readAllBytes() finally in.close()
        })(got => blobError(got, bytes, cid, t))
      }
      case Schema(cid, cols) => t.request("schema") {
        rec.timed("schema")(t.span("engine.schema")(ctx.lake.schema(cid))) {
          case Left(e) => Some(e.message)
          case Right(json) => schemaError(json, cols)
        }
      }
    }
  }

  def endToEnd(a: Recorder, wall: Double): Unit = {
    out.e2e("ops_per_s", a.count / wall, "ops/s")
    out.e2e("latency_ms", Stats.median(a.ms("find")), "ms")
    out.pct("find", a.ms("find"))
    out.pct("get", a.ms("get"))
    out.pct("schema", a.ms("schema"))
  }

  def layers(a: Ctx, c: Ctx): Unit = {
    val t = c.tracer
    val probe = c.probe.get
    val search = t.all.filter(_.name == "catalog.search_local")
    val hits = search.count(s => probe.jobsIn(s.id) == 0)
    out.layer("api.find_overhead_ms",
      Stats.median(a.rec.ms("find")) - Stats.median(t.ms("catalog.search_local")), "ms")
    out.layer("catalog.search_local_ms", Stats.median(t.ms("catalog.search_local")), "ms")
    out.layer("catalog.snapshot_hit_ratio", hits.toDouble / math.max(1, search.length), "ratio")
    out.layer("catalog.snapshot_rebuild_ms",
      Stats.median(search.filter(s => probe.jobsIn(s.id) > 0).map(_.ns / 1e6)), "ms")
    out.layer("qast.parse_us", 1000 * Stats.median(t.ms("qast.parse")), "us")
    out.layer("qast.eval_us_per_row",
      1000 * t.ms("qast.eval").sum / math.max(1L, c.rowsExamined.sum), "us")
    out.layer("qast.rows_examined_per_result",
      c.rowsExamined.sum.toDouble / math.max(1L, c.resultRows.sum), "ratio")
    out.layer("store.fetch_ms", Stats.median(t.ms("store.fetch")), "ms")
    out.layer("store.cid_ms", Stats.median(t.ms("store.cid")), "ms")
    out.layer("engine.schema_wait_ms", Stats.median(t.ms("engine.schema")), "ms")
    out.layer("engine.background_jobs", probe.untaggedJobs.sum.toDouble, "count")
    out.layer("api.bytes_per_find",
      a.respBytes.sum.toDouble / math.max(1L, a.finds.sum), "bytes")
  }
}
