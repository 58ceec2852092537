package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The one record writer of the mains (Bench, Verify, Soak) and of
  * `nk curate`'s report: a `ListMap` is an object with its keys in
  * order, a `Seq` an array, and every double is rounded to 3 decimals
  * and printed with a `.` whatever the JVM's default locale. Strings
  * are escaped by Jackson, control characters included.
  */
object Record {
  type Rec = ListMap[String, Any]

  private val Mapper = new ObjectMapper()

  def json(rec: Rec): String = {
    def plain(v: Any): Any = v match {
      case m: ListMap[_, _] =>
        val o = new java.util.LinkedHashMap[Any, Any]()
        m.foreach { case (k, x) => o.put(k, plain(x)) }
        o
      case s: Seq[_] => s.map(plain).asJava
      case d: Double => math.rint(d * 1000) / 1000
      case x => x
    }
    Mapper.writeValueAsString(plain(rec))
  }

  /** `pattern` formatted as `String.format` does, with a `.` decimal
    * separator whatever the JVM's default locale: the report lines of
    * the mains and the `nk` verbs.
    */
  def fmt(pattern: String, args: Any*): String =
    pattern.formatLocal(java.util.Locale.ROOT, args: _*)
}
