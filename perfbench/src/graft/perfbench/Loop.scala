package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** How a phase drives the engine: over loopback HTTP with tracing off
  * (the end-to-end numbers), over HTTP with one span per request (the
  * tracing-overhead comparison), or by calling each layer in-process
  * with a span around every call (the per-layer numbers).
  */
sealed trait Mode
object Mode {
  case object Http extends Mode
  case object TracedHttp extends Mode
  case object InProcess extends Mode
}

/** Latency samples of successful operations, by kind, plus every
  * failure. A failed operation (non-2xx, exception, wrong output)
  * counts in `failed` and never in the latencies.
  */
final class Recorder {
  private val samples = new ConcurrentLinkedQueue[(String, Double)]()
  val attempted, failed = new LongAdder
  val failures = new ConcurrentLinkedQueue[String]()

  def ok(kind: String, ms: Double): Unit = {
    attempted.increment(); samples.add(kind -> ms)
  }
  def fail(kind: String, msg: String): Unit = {
    attempted.increment(); failed.increment()
    if (failures.size < 20) failures.add(s"$kind: $msg")
  }
  /** Time `call`, then check its result; a thrown exception fails. */
  def timed[T](kind: String)(call: => T)(check: T => Option[String]): Option[T] =
    try {
      val t0 = System.nanoTime()
      val r = call
      val ms = (System.nanoTime() - t0) / 1e6
      check(r) match {
        case None => ok(kind, ms); Some(r)
        case Some(err) => fail(kind, err); None
      }
    } catch { case e: Exception => fail(kind, e.toString); None }

  def ms(kinds: String*): Seq[Double] =
    samples.asScala.iterator.filter(s => kinds.contains(s._1)).map(_._2).toSeq
  def count: Long = attempted.sum
}

/** One closed-loop client: sends its next operation only after the
  * previous one completed and was checked.
  */
trait LoopClient {
  def step(mode: Mode, rec: Recorder): Unit
}

object Loop {
  /** Run every client on its own thread until `seconds` have passed;
    * returns the wall time until the last in-flight operation ended.
    */
  def run(clients: Seq[LoopClient], seconds: Double, mode: Mode,
      rec: Recorder): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = clients.map { c =>
      val t = new Thread(() => while (System.nanoTime() < deadline) c.step(mode, rec))
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** Blocking HTTP/1.1 client over the JDK's pooled keep-alive
  * connections. Non-2xx statuses are returned, not thrown.
  */
final class Http(base: String) {
  final case class Resp(status: Int, body: Array[Byte]) {
    def ok: Boolean = status / 100 == 2
    def json: JsonNode = Http.mapper.readTree(body)
  }

  def get(path: String): Resp = call("GET", path, null, null)
  def post(path: String, body: String, ctype: String = "application/json"): Resp =
    call("POST", path, body.getBytes("UTF-8"), ctype)
  def postBytes(path: String, body: Array[Byte], ctype: String): Resp =
    call("POST", path, body, ctype)

  private def call(method: String, path: String, body: Array[Byte],
      ctype: String): Resp = {
    val c = URI.create(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", ctype)
      c.setFixedLengthStreamingMode(body.length)
      val out = c.getOutputStream
      try out.write(body) finally out.close()
    }
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val bytes = if (in == null) Array.emptyByteArray
      else try in.readAllBytes() finally in.close()
    Resp(status, bytes)
  }
}

object Http {
  val mapper = new ObjectMapper()
}
