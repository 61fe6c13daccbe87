package graft.perfbench

import java.io.ByteArrayInputStream
import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import graft.engine.Lake
import graft.store.{Catalog, Cid, DatasetMeta}

/** `lake_write`: a 2,000-dataset lake used the other way. Each client
  * repeats `POST /file` (70 % new CSV/JSON bytes, 30 % a re-upload of
  * an existing blob), `POST /dataset`, and 30 % of the time
  * `POST /update`; a `POST /find` for the client's latest version
  * follows every 4th write, and a `GET /schema` follows 25 % of the new
  * uploads. Every write invalidates the catalog's driver snapshot, so
  * finds here rebuild it with Spark.
  */
final class LakeWrite(env: Env) extends LakeWorkload(env) {
  private val nBlobs = 500
  private val nDatasets = 2000
  private var blobs: IndexedSeq[Blob] = _
  private var cids: IndexedSeq[String] = _
  private var datasets: IndexedSeq[GenDataset] = _
  /** Source of every phase's writer streams: each phase uploads bytes
    * no earlier phase stored, so new uploads stay new.
    */
  private var writerRng: Rng = _
  /** Description tokens stay unique across phases. */
  private val serial = new AtomicLong(0)

  private val writes = Seq("file", "dataset", "update")
  /** The find after a write: it pays the snapshot rebuild. Write
    * latency itself is an fsync and moves with the disk, so it is a
    * note, not the headline.
    */
  def primary: Seq[String] = Seq("find")
  override val warmupSeconds = 4.0

  def generate(rng: Rng): Unit = {
    blobs = LakeGen.blobs(rng.split(), nBlobs)
    cids = blobs.map(b => Cid.ofBytes(b.bytes).cid)
    datasets = LakeGen.datasets(rng.split(), nDatasets, cids.distinct, cids.distinct.length + 1L)
    writerRng = rng.split()
    userBlobBytes.add(blobs.map(_.bytes.length.toLong).sum)
    userMetaBytes.add(datasets.map(metaJson(_).length.toLong).sum)
    out.input("blobs", nBlobs)
    out.input("blob_bytes", blobs.map(_.bytes.length.toLong).sum)
    out.input("catalog_rows", nDatasets)
    out.input("new_blob_bytes", "1-16 KB log-uniform")
  }

  def preload(root: Path): Lake = {
    val store = new graft.store.ContentStore(root.resolve("cas"))
    blobs.foreach(b => store.add(b.bytes))
    val byCid = cids.zip(blobs).toMap
    writeCatalog(root, cids.distinct.zipWithIndex.map { case (c, i) =>
      Catalog.ContentRow(c, byCid(c).mime, Map.empty, i + 1L)
    }, datasets)
    val lake = new Lake(spark, root)
    lake.findLocal("true")
    lake
  }

  def clients(ctx: Ctx): Seq[LoopClient] = (0 until 2).map(i => new Writer(i, writerRng.split(), ctx))

  private sealed trait Act
  private final case class Upload(blob: Blob) extends Act
  private final case class SchemaOf(blob: Blob) extends Act
  private case object AddDataset extends Act
  private case object Update extends Act
  private case object FindLatest extends Act

  private final class Writer(id: Int, rng: Rng, ctx: Ctx) extends LoopClient {
    private val queue = scala.collection.mutable.Queue.empty[Act]
    private var writes = 0
    private var lastCid = cids(id)
    private var lastBlob: Blob = null
    private var latest: Option[(String, Long)] = None
    private val t = ctx.tracer
    // exact proportions in every block of cycles, so runs differ in
    // which cycles re-upload or update, never in how many
    private val fresh = rng.blocks(Seq(true -> 7, false -> 3), 1000)
    private val update = rng.blocks(Seq(true -> 3, false -> 7), 1000)
    private val schema = rng.blocks(Seq(true -> 1, false -> 3), 1000)
    private var cycle, freshCount = 0

    private def write(a: Act): Unit = {
      queue += a; writes += 1
      if (writes % 4 == 0) queue += FindLatest
    }

    private def refill(): Unit = {
      val isNew = fresh(cycle % fresh.length)
      val blob =
        if (isNew) LakeGen.blob(rng, rng.logUniform(1024, 16 * 1024), cycle % 2 == 0)
        else blobs(rng.int(blobs.length))
      write(Upload(blob))
      if (isNew) {
        if (schema(freshCount % schema.length)) queue += SchemaOf(blob)
        freshCount += 1
      }
      write(AddDataset)
      if (update(cycle % update.length)) write(Update)
      cycle += 1
    }

    private def token(kind: String) =
      s"$kind${serial.incrementAndGet()} ${rng.pick(LakeGen.adjectives)} ${rng.pick(LakeGen.nouns)}"

    def step(mode: Mode, rec: Recorder): Unit = {
      if (queue.isEmpty) refill()
      val inProc = mode == Mode.InProcess
      queue.dequeue() match {
        case Upload(blob) =>
          userBlobBytes.add(blob.bytes.length)
          def cidError(c: String, want: String) =
            if (c == want) None else Some(s"cid $c, want $want")
          val got =
            if (inProc) t.request("file") {
              val want = t.span("store.cid")(Cid.ofBytes(blob.bytes).cid)
              rec.timed("file")(addFile(blob, want))(cidError(_, want))
            } else {
              val want = Cid.ofBytes(blob.bytes).cid
              ctx.call(mode, "file")(rec.timed("file")(
                ctx.http.postBytes("/file", blob.bytes, blob.mime))(r =>
                status(r).orElse(cidError(r.json.path("cid").asText, want)))).map(_ => want)
            }
          got.foreach { c => lastCid = c; lastBlob = blob }
        case SchemaOf(blob) if lastBlob eq blob =>
          val cid = lastCid
          if (inProc) t.request("schema")(rec.timed("schema")(
            t.span("engine.schema")(ctx.lake.schema(cid))) {
            case Left(e) => Some(e.message)
            case Right(json) => schemaError(json, blob.columns)
          })
          else ctx.call(mode, "schema")(rec.timed("schema")(ctx.http.get(s"/schema/$cid")) { r =>
            status(r).orElse(schemaError(new String(r.body, "UTF-8"), blob.columns))
          })
        case SchemaOf(_) => // its upload failed and is already counted
        case AddDataset =>
          val desc = token("w")
          val topics = Seq(rng.pick(LakeGen.topics))
          val source = rng.pick(LakeGen.sources)
          val body = s"""{"file":"$lastCid","description":"$desc","source":"$source",""" +
            s""""topics":["${topics.head}"],"year":2024}"""
          userMetaBytes.add(body.length)
          val id =
            if (inProc) t.request("dataset")(rec.timed("dataset")(
              t.span("catalog.insert_dataset")(ctx.lake.addDataset(DatasetMeta(lastCid, desc,
                source, topics, Map("year" -> "2024")))))(_ => None))
            else ctx.call(mode, "dataset")(rec.timed("dataset")(
              ctx.http.post("/dataset", body))(status)).map(_.json.path("id").asText.toLong)
          id.foreach(i => latest = Some(desc -> i))
        case Update => latest.foreach { case (_, parent) =>
          val desc = token("u")
          val body = s"""{"parent":"$parent","description":"$desc"}"""
          userMetaBytes.add(body.length)
          val id =
            if (inProc) t.request("update")(rec.timed("update")(
              t.span("catalog.update_dataset")(ctx.lake.updateDataset(parent,
                DatasetMeta.Partial(description = Some(desc)))))(r =>
              if (r.isEmpty) Some("missing parent") else None)).flatten
            else ctx.call(mode, "update")(rec.timed("update")(
              ctx.http.post("/update", body))(status)).map(_.json.path("id").asText.toLong)
          id.foreach(i => latest = Some(desc -> i))
        }
        case FindLatest => latest.foreach { case (desc, want) =>
          val json = Q.eq("description", Q.str(desc))
          val expect = Expect.Values("id", Seq(want.toString))
          if (inProc) t.request("find") {
            rec.timed("find")(t.span("catalog.search_local")(ctx.lake.catalog.searchLocal(json))) {
              case Left(e) => Some(e.message)
              case Right(rows) => expect.check(Expect.fromRows(rows))
            }
            t.span("qast.parse")(graft.qast.Ast.parse(json))
          }
          else ctx.call(mode, "find")(rec.timed("find")(ctx.http.post("/find", json)) { r =>
            status(r).orElse(expect.check(Expect.fromJson(r.json)))
          })
        }
      }
    }

    /** `Lake.addFile`'s steps, one span each, so the store and the
      * catalog are timed apart.
      */
    private def addFile(blob: Blob, cid: String): String = t.span("engine.add_file") {
      ctx.adds.increment()
      if (ctx.lake.store.exists(cid)) ctx.dedupAdds.increment()
      val got = t.span("store.add")(ctx.lake.store.add(new ByteArrayInputStream(blob.bytes)))
      ctx.lake.store.logIngest(Seq(got))
      t.span("catalog.insert_file")(ctx.lake.catalog.insertFile(got, blob.mime))
      ctx.lake.extractor.inferSchemaAsync(got)
      got
    }
  }

  def endToEnd(a: Recorder, wall: Double): Unit = {
    out.e2e("ops_per_s", a.count / wall, "ops/s")
    out.e2e("latency_ms", Stats.median(a.ms("find")), "ms")
    out.pct("find", a.ms("find"))
    out.pct("write", a.ms(writes: _*))
    writes.foreach(k => out.pct(k, a.ms(k)))
    out.pct("schema", a.ms("schema"))
  }

  def layers(a: Ctx, c: Ctx): Unit = {
    val t = c.tracer
    val probe = c.probe.get
    val inserts = t.all.filter(s => Set("catalog.insert_file", "catalog.insert_dataset",
      "catalog.update_dataset")(s.name))
    val compactions = inserts.filter(s => probe.jobsIn(s.id) > 0)
    val search = t.all.filter(_.name == "catalog.search_local")
    val rebuilds = search.filter(s => probe.jobsIn(s.id) > 0)
    out.layer("engine.add_file_ms", Stats.median(t.ms("engine.add_file")), "ms")
    out.layer("engine.schema_wait_ms", Stats.median(t.ms("engine.schema")), "ms")
    out.layer("engine.background_jobs", probe.untaggedJobs.sum.toDouble, "count")
    out.layer("store.cid_ms", Stats.median(t.ms("store.cid")), "ms")
    out.layer("store.add_ms", Stats.median(t.ms("store.add")), "ms")
    out.layer("store.dedup_ratio", c.dedupAdds.sum.toDouble / math.max(1L, c.adds.sum), "ratio")
    out.layer("catalog.insert_file_ms", Stats.median(t.ms("catalog.insert_file")), "ms")
    out.layer("catalog.insert_dataset_ms", Stats.median(t.ms("catalog.insert_dataset")), "ms")
    out.layer("catalog.update_dataset_ms", Stats.median(t.ms("catalog.update_dataset")), "ms")
    out.layer("catalog.search_local_ms", Stats.median(search.map(_.ns / 1e6)), "ms")
    out.layer("catalog.snapshot_hit_ratio",
      (search.length - rebuilds.length).toDouble / math.max(1, search.length), "ratio")
    out.layer("catalog.snapshot_rebuild_ms", Stats.median(rebuilds.map(_.ns / 1e6)), "ms")
    out.layer("catalog.compactions", compactions.length.toDouble, "count")
    out.layer("catalog.compaction_ms", Stats.median(compactions.map(_.ns / 1e6)), "ms")
    out.layer("qast.parse_us", 1000 * Stats.median(t.ms("qast.parse")), "us")
  }
}
