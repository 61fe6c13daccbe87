package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** A generated row blob: its bytes, MIME type and column names. */
final case class Blob(bytes: Array[Byte], mime: String, columns: Seq[String]) {
  def isCsv: Boolean = mime == "text/csv"
}

/** A generated dataset version as the catalog will hold it. */
final case class GenDataset(id: Long, file: String, description: String,
    source: String, topics: Seq[String], extra: Map[String, String],
    parent: Option[Long], depth: Int)

/** Seeded inputs for the lake workloads. Everything here runs before
  * the timed region; the program only receives the bytes and rows.
  */
object LakeGen {
  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pu")

  /** The i-th word of a fixed vocabulary (1000 distinct words). */
  def word(i: Int): String =
    syllables(i % 10) + syllables(i / 10 % 10) + syllables(i / 100 % 10)

  val topics: IndexedSeq[String] = (0 until 200).map(i => "t-" + word(i))
  val sources: IndexedSeq[String] = (0 until 400).map(i => "src-" + word(i + 200))
  val adjectives: IndexedSeq[String] = (0 until 50).map(i => word(i + 600))
  val nouns: IndexedSeq[String] = (0 until 50).map(i => word(i + 650))
  val licenses = IndexedSeq("cc-by", "cc0", "odbl", "proprietary")

  private val columnPool = IndexedSeq("id", "name", "city", "score", "count", "flag", "code", "day")

  private def two(n: Int): String = if (n < 10) "0" + n else n.toString

  private def cell(rng: Rng, col: String, row: Int): (String, Boolean) = col match {
    case "id" => (row.toString, true)
    case "name" => (word(rng.int(1000)), false)
    case "city" => (word(700 + rng.int(100)), false)
    case "score" => val c = rng.int(100000); (s"${c / 100}.${c % 100 / 10}${c % 10}", true)
    case "count" => (rng.int(5000).toString, true)
    case "flag" => (if (rng.chance(0.5)) "true" else "false", true)
    case "code" => (s"${('A' + rng.int(26)).toChar}${('A' + rng.int(26)).toChar}${1000 + rng.int(9000)}", false)
    case _ => (s"2024-${two(1 + rng.int(12))}-${two(1 + rng.int(28))}", false)
  }

  /** A CSV or JSON-array blob of about `bytes` bytes with 3 to 8 columns. */
  def blob(rng: Rng, bytes: Int, csv: Boolean): Blob = {
    val cols = "id" +: scala.util.Random.javaRandomToRandom(
      new java.util.Random(rng.int(Int.MaxValue))).shuffle(columnPool.tail)
      .take(rng.between(2, 7))
    val sb = new StringBuilder
    if (csv) sb.append(cols.mkString(",")).append('\n') else sb.append('[')
    var row = 0
    while (sb.length < bytes || row == 0) {
      if (csv) {
        sb.append(cols.map(c => cell(rng, c, row)._1).mkString(",")).append('\n')
      } else {
        if (row > 0) sb.append(',')
        sb.append(cols.map { c =>
          val (v, bare) = cell(rng, c, row)
          "\"" + c + "\":" + (if (bare) v else "\"" + v + "\"")
        }.mkString("{", ",", "}"))
      }
      row += 1
    }
    if (!csv) sb.append(']')
    Blob(sb.toString.getBytes(UTF_8), if (csv) "text/csv" else "application/json", cols)
  }

  /** `n` blobs of 1-64 KB, log-uniform, half CSV and half JSON. */
  def blobs(rng: Rng, n: Int): IndexedSeq[Blob] =
    (0 until n).map(i => blob(rng, rng.logUniform(1024, 64 * 1024), i % 2 == 0))

  /** `n` dataset versions over the given file cids: about 30 % are
    * updates of an earlier version, in chains of depth at most 5. Ids
    * start at `firstId` and follow the catalog's own numbering.
    */
  def datasets(rng: Rng, n: Int, files: IndexedSeq[String], firstId: Long)
      : IndexedSeq[GenDataset] = {
    val topicZipf = new Zipf(topics.length)
    val sourceZipf = new Zipf(sources.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[GenDataset]
    val extendable = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until n) {
      val id = firstId + i
      val desc = s"${rng.pick(adjectives)} ${rng.pick(nouns)} set $id"
      if (extendable.nonEmpty && rng.chance(0.3)) {
        val k = rng.int(extendable.length)
        val p = out(extendable(k))
        val d = p.copy(id = id, parent = Some(p.id), depth = p.depth + 1,
          description = if (rng.chance(0.7)) desc else p.description,
          topics = if (rng.chance(0.3)) drawTopics(rng, topicZipf) else p.topics,
          extra = p.extra + ("rev" -> (p.depth + 1).toString))
        out += d
        if (d.depth < 5) extendable += out.length - 1
      } else {
        out += GenDataset(id, rng.pick(files), desc, sources(sourceZipf.draw(rng)),
          drawTopics(rng, topicZipf),
          Map("year" -> (1990 + rng.int(35)).toString,
            "license" -> ("\"" + rng.pick(licenses) + "\"")),
          None, 0)
        extendable += out.length - 1
      }
    }
    out.toIndexedSeq
  }

  private def drawTopics(rng: Rng, z: Zipf): Seq[String] =
    Seq.fill(rng.between(1, 3))(topics(z.draw(rng))).distinct
}
