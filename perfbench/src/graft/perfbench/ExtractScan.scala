package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import scala.jdk.CollectionConverters._

import graft.engine.Lake
import graft.qast.{Ast, Compiler}

/** `extract_scan`: `POST /extract/{cid}` over two large blobs (a CSV
  * and a JSON array) and two small ones. Each request is a full Spark
  * query (parse, compile, read, filter, drain); on the small blobs the
  * fixed planning cost dominates, on the large ones the scan.
  */
final class ExtractScan(env: Env) extends LakeWorkload(env) {
  /** One generated table: columns id, k, cat, code, x, y, name, flag. */
  private final class Table(rng: Rng, val rows: Int, val csv: Boolean) {
    val k = Array.fill(rows)(rng.int(200))
    val cat = Array.fill(rows)(rng.int(20))
    val code = Array.fill(rows)((rng.int(26), rng.int(26), 1000 + rng.int(9000)))
    val x = Array.fill(rows)(rng.int(1000000) / 100.0)
    val y = Array.fill(rows)(rng.int(1000))
    val name = Array.fill(rows)(rng.int(1000))
    val flag = Array.fill(rows)(rng.chance(0.5))
    def codeOf(i: Int): String = code(i) match {
      case (a, b, n) => s"${('A' + a).toChar}${('A' + b).toChar}$n"
    }
    def catOf(i: Int): String = "c-" + LakeGen.word(800 + cat(i))
    val byK: Array[Array[Int]] = {
      val b = Array.fill(200)(Array.newBuilder[Int])
      for (i <- 0 until rows) b(k(i)) += i
      b.map(_.result())
    }
    val bytes: Array[Byte] = {
      val sb = new StringBuilder(rows * 64)
      if (csv) sb.append("id,k,cat,code,x,y,name,flag\n") else sb.append('[')
      for (i <- 0 until rows) {
        val xs = f"${x(i)}%.2f"
        val nm = LakeGen.word(name(i))
        if (csv) sb.append(s"$i,${k(i)},${catOf(i)},${codeOf(i)},$xs,${y(i)},$nm,${flag(i)}\n")
        else {
          if (i > 0) sb.append(',')
          sb.append(s"""{"id":$i,"k":${k(i)},"cat":"${catOf(i)}","code":"${codeOf(i)}",""" +
            s""""x":$xs,"y":${y(i)},"name":"$nm","flag":${flag(i)}}""")
        }
      }
      if (!csv) sb.append(']')
      sb.toString.getBytes(UTF_8)
    }
    val byCode: Array[Array[Int]] = {
      val b = Array.fill(26 * 10)(Array.newBuilder[Int])
      for (i <- 0 until rows) b(code(i)._1 * 10 + code(i)._3 / 1000) += i
      b.map(_.result())
    }
    lazy val flagGroups: Map[String, Long] =
      (0 until rows).filter(flag).groupBy(catOf).map { case (c, v) => c -> v.length.toLong }
    def mime: String = if (csv) "text/csv" else "application/json"
    def lit(n: Int): String = if (csv) Q.str(n.toString) else n.toString
  }

  private final case class Req(blob: Int, kind: String, json: String, expect: Expect)

  private var tables: IndexedSeq[Table] = _
  private var cids: IndexedSeq[String] = _
  private var streams: Seq[IndexedSeq[Req]] = _

  /** One request kind per blob, in the order of `tables`. */
  def primary: Seq[String] =
    Seq("extract.large_csv", "extract.large_json", "extract.small_csv", "extract.small_json")
  override val setupReps = 2
  /** One client per core. With two, the cores sat partly idle between
    * a request's many Spark hand-offs (client, server, DAG scheduler,
    * task), and ten seeds spread 16 % in both gated metrics; with four
    * they stay busy, and the spread fell to 9-13 %.
    */
  private val clientCount = 4
  /** Each request runs a large share of Spark's planner and scheduler,
    * which the JIT takes long to compile: after 3 s of warm-up the
    * rate still climbed through the measured phase, and how far it
    * had climbed decided the number.
    */
  override val warmupSeconds = 8.0

  def generate(rng: Rng): Unit = {
    tables = IndexedSeq((50000, true), (12500, false), (1000, true), (1000, false))
      .map { case (n, csv) => new Table(rng.split(), n, csv) }
    cids = tables.map(t => graft.store.Cid.ofBytes(t.bytes).cid)
    streams = (0 until clientCount).map { _ =>
      val r = rng.split()
      r.blocks(Seq(2 -> 3, 3 -> 3, 0 -> 2, 1 -> 2), 400)
        .zip(r.blocks(Seq("sel" -> 3, "regex" -> 2, "group" -> 2, "having" -> 1, "top" -> 2), 400))
        .map { case (b, kind) => request(r, b, kind) }
    }
    tables.foreach(t => userBlobBytes.add(t.bytes.length))
    out.input("blobs", tables.length)
    out.input("blob_bytes", tables.map(_.bytes.length.toLong).sum)
    out.input("content_rows", tables.map(_.rows).sum)
    out.input("large_blobs", "50000-row CSV, 12500-row JSON array")
    out.input("clients", clientCount)
    out.input("requests_per_client", 400)
  }

  private def request(r: Rng, b: Int, kind: String): Req = {
    val t = tables(b)
    val ids = (is: Seq[Int]) => is.map(_.toString)
    def groups(is: Seq[Int]) = is.groupBy(t.catOf).map { case (c, v) => c -> v.length.toLong }
    val v = r.int(200)
    kind match {
      case "sel" =>
        Req(b, kind, Q.eq("k", t.lit(v)), Expect.Values("id", ids(t.byK(v).toSeq)))
      case "regex" =>
        val (a, d) = (r.int(26), 1 + r.int(9))
        val re = s"${('A' + a).toChar}[A-Z]$d.*"
        Req(b, kind, s"""["~", ${Q.path("code")}, "$re"]""",
          Expect.Values("id", ids(t.byCode(a * 10 + d).toSeq)))
      case "group" =>
        Req(b, kind, s"""["group", ${Q.eq("k", t.lit(v))}, [${Q.path("cat")}], ["count"]]""",
          Expect.Groups("cat", groups(t.byK(v).toSeq)))
      case "having" =>
        val all = t.flagGroups
        val cut = Stats.median(all.values.map(_.toDouble).toSeq).toLong
        val flag = if (t.csv) Q.str("true") else "true"
        Req(b, kind, s"""["having", ["group", ${Q.eq("flag", flag)}, [${Q.path("cat")}], """ +
          s"""["count"]], [">", ${Q.path("n")}, $cut]]""",
          Expect.Groups("cat", all.filter(_._2 > cut)))
      case _ =>
        val hits = t.byK(v).toSeq
        // a CSV column is text, so its ids sort as strings
        val top = if (t.csv) hits.map(_.toString).sorted.reverse.take(10)
          else hits.sorted.reverse.take(10).map(_.toString)
        Req(b, kind, s"""["top", 10, [["desc", ${Q.path("id")}]], ${Q.eq("k", t.lit(v))}]""",
          Expect.Ordered("id", top))
    }
  }

  def preload(root: Path): Lake = {
    val lake = new Lake(spark, root)
    tables.foreach(t => lake.addFile(t.bytes, t.mime))
    // wait for the upload-time schema inference so it never overlaps
    // the measured phase
    cids.foreach(c => lake.schema(c))
    lake
  }

  def clients(ctx: Ctx): Seq[LoopClient] = streams.map(reqs => new LoopClient {
    private var i = 0
    def step(mode: Mode, rec: Recorder): Unit = {
      val q = reqs(i % reqs.length); i += 1
      val cid = cids(q.blob)
      if (mode == Mode.InProcess) {
        val t = ctx.tracer
        t.request("extract") {
          t.span("qast.parse")(Ast.parse(q.json)).foreach { ast =>
            t.span("qast.compile")(if (Compiler.isFrameVerb(ast)) Compiler.compileFrame(ast)
              else Compiler.compile(ast))
          }
          rec.timed(primary(q.blob)) {
            t.span("engine.extract_plan")(ctx.lake.extract(cid, q.json)).map(df =>
              t.span("engine.extract_drain")(df.toJSON.toLocalIterator().asScala.toVector))
          } {
            case Left(e) => Some(e.message)
            case Right(rows) =>
              q.expect.check(Expect.fromJson(Http.mapper.readTree(rows.mkString("[", ",", "]"))))
          }
        }
      } else ctx.call(mode, "extract")(rec.timed(primary(q.blob))(
        ctx.http.post(s"/extract/$cid", q.json)) { r =>
        status(r).orElse(q.expect.check(Expect.fromJson(r.json)))
      })
    }
  })

  def endToEnd(a: Recorder, wall: Double): Unit = {
    val x = a.ms(primary: _*)
    out.e2e("ops_per_s", a.count / wall, "ops/s")
    out.e2e("latency_ms", Stats.median(x), "ms")
    out.pct("extract", x)
    out.note("extract median ms per blob: " + primary.map(k =>
      f"$k ${Stats.median(a.ms(k))}%.1f (n=${a.ms(k).length})").mkString(", "))
  }

  def layers(a: Ctx, c: Ctx): Unit = {
    val t = c.tracer
    val plan = t.ms("engine.extract_plan")
    val drain = t.ms("engine.extract_drain")
    out.layer("api.extract_overhead_ms",
      Stats.median(a.rec.ms(primary: _*)) - Stats.median(c.rec.ms(primary: _*)), "ms")
    out.layer("engine.extract_plan_ms", Stats.median(plan), "ms")
    out.layer("engine.extract_drain_ms", Stats.median(drain), "ms")
    out.layer("engine.background_jobs", c.probe.get.untaggedJobs.sum.toDouble, "count")
    out.layer("qast.parse_us", 1000 * Stats.median(t.ms("qast.parse")), "us")
    out.layer("qast.compile_us", 1000 * Stats.median(t.ms("qast.compile")), "us")
  }
}
