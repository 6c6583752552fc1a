package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Expected output of one query: its row count, and for queries with a
  * DuckDB oracle a hash of its rows. */
final case class Expected(rows: Long, hash: Option[String])

/** Order-independent fingerprint of a query result. Each row is rendered
  * canonically (floating point to 9 significant digits, so last-bit
  * differences between summation orders do not count), rows are sorted,
  * and the sorted rendering is hashed with SHA-256. */
object ResultCheck {

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case b: java.math.BigDecimal => renderDouble(b.doubleValue)
    case b: scala.math.BigDecimal => renderDouble(b.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case t: java.sql.Timestamp => t.toInstant.toString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def renderDouble(d: Double): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else "%.9g".formatLocal(java.util.Locale.ROOT, d)

  /** Row count and hash of `df`, computed on the driver. */
  def of(df: DataFrame): Expected = {
    val rows = df.collect().map(render).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    Expected(rows.length.toLong, Some(md.digest().take(12).map(b => f"$b%02x").mkString))
  }

  /** Mismatches between `got` and `want`, as messages (empty = match). */
  def compare(name: String, got: Expected, want: Option[Expected]): Seq[String] =
    want match {
      case None => Seq(s"$name: no expected result recorded")
      case Some(w) =>
        (if (got.rows != w.rows) Seq(s"$name: ${got.rows} rows, expected ${w.rows}")
         else Nil) ++
        w.hash.filter(h => !got.hash.contains(h))
          .map(h => s"$name: result hash ${got.hash.getOrElse("-")}, expected $h")
    }

  def load(path: Path): Map[String, Expected] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(path))
    node.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("rows").asLong(),
        Option(v.get("hash")).filter(!_.isNull).map(_.asText()))
    }.toMap
  }

  def save(path: Path, all: Seq[(String, Expected)]): Unit = {
    val body = all.sortBy(_._1).map { case (k, e) =>
      val h = e.hash.map(x => s""", "hash": "$x"""").getOrElse("")
      s"""  "$k": {"rows": ${e.rows}$h}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(path, body)
  }
}
