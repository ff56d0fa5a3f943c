package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent digest of a query result: every row is rendered to a
  * canonical string, the strings are sorted, and the sorted list is hashed.
  * Column names are part of the digest, so a renamed output column changes
  * it; row order is not.
  */
object Digest {

  def render(v: Any): String = v match {
    case null                      => "∅"
    case d: Double if d.isNaN      => "NaN"
    case d: Double                 => java.lang.Double.toString(d)
    case f: Float                  => java.lang.Double.toString(f.toDouble)
    case b: java.math.BigDecimal   => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal  => render(b.bigDecimal)
    case a: Array[Byte]            => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row                    => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other                     => other.toString
  }

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.mkString("|").getBytes(StandardCharsets.UTF_8))
    rows.map(r => render(r)).sorted.foreach { s =>
      md.update(0.toByte)
      md.update(s.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
