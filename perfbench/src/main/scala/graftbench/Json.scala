package graftbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** The harness's JSON output. `canon` maps Scala and Spark values to the
  * Java maps, lists, strings and boxed numbers Jackson writes, in the
  * encoding the checks decode: timestamps as "ts:<epoch µs>", dates as
  * "date:<iso>", decimals as "dec:<plain string>", non-finite doubles as
  * their names, structs and arrays as lists. */
object Json {
  private val mapper = new ObjectMapper()

  def canon(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => canon(x)
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case f: Float => canon(f.toDouble)
    case d: java.math.BigDecimal =>
      "dec:" + d.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp =>
      "ts:" + (t.getTime / 1000 * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "ts:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "date:" + d.toLocalDate
    case d: java.time.LocalDate => "date:" + d
    case x @ (_: String | _: java.lang.Boolean | _: java.lang.Number) =>
      x.asInstanceOf[AnyRef]
    case r: Row => canon(r.toSeq)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> canon(x) }.toMap.asJava
    case xs: Iterable[_] => xs.map(canon).toSeq.asJava
    case xs: Array[_] => canon(xs.toSeq)
    case other => other.toString
  }

  def write(v: Any): String = mapper.writeValueAsString(canon(v))

  /** A result set: column names and rows. */
  def rows(columns: Seq[String], rs: Seq[Row]): Map[String, Any] =
    Map("columns" -> columns, "rows" -> rs)
}
