package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** What a `/find` or `/extract` request must return, computed by the
  * generator from the rows it made. Rows are compared as flat maps of
  * field → text, so the HTTP body and the in-process result check the
  * same way.
  */
sealed trait Expect {
  def check(rows: Seq[Map[String, String]]): Option[String]
  /** Rows the request must return. */
  def size: Int
}

object Expect {
  type Rows = Seq[Map[String, String]]

  /** Exactly these values of `key`, in any order. */
  final case class Values(key: String, want: Seq[String]) extends Expect {
    def size: Int = want.length
    def check(rows: Rows): Option[String] = {
      val got = rows.map(_.getOrElse(key, "<missing>")).sorted
      if (got == want.sorted) None
      else Some(s"$key: ${got.length} rows, want ${want.length}")
    }
  }

  /** Exactly these values of `key`, in this order. */
  final case class Ordered(key: String, want: Seq[String]) extends Expect {
    def size: Int = want.length
    def check(rows: Rows): Option[String] = {
      val got = rows.map(_.getOrElse(key, "<missing>"))
      if (got == want) None else Some(s"$key order ${got.take(3)} want ${want.take(3)}")
    }
  }

  /** One row per group key with its `n` (the `["count"]` aggregate). */
  final case class Groups(key: String, want: Map[String, Long]) extends Expect {
    def size: Int = want.size
    def check(rows: Rows): Option[String] = {
      val got = rows.map(r => r.getOrElse(key, "<missing>") -> r.getOrElse("n", "-1")).toMap
      if (rows.length == want.size && got == want.map { case (k, v) => k -> v.toString }) None
      else Some(s"groups: ${rows.length} rows, want ${want.size}")
    }
  }

  def fromJson(array: JsonNode): Rows =
    array.elements.asScala.map(o => o.properties.asScala.map(e =>
      e.getKey -> text(e.getValue)).toMap).toSeq

  def fromRows(rows: Seq[Map[String, Any]]): Rows =
    rows.map(_.map { case (k, v) => k -> String.valueOf(v) })

  private def text(v: JsonNode): String =
    if (v.isValueNode) v.asText else v.toString
}

/** QAST text builders for the generated requests. */
object Q {
  def path(field: String): String = s"""[".", ["$$"], "$field"]"""
  def str(s: String): String = "\"" + s + "\""
  def eq(field: String, lit: String): String = s"""["==", ${path(field)}, $lit]"""
}
