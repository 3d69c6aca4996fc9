package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** JSON for the run record and the span file, written with json4s (among
  * Spark's jars).
  */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def write(fields: Map[String, Any]): String = Serialization.write(fields)
}

object Stats {
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Order-independent content hash of an operator's output rows: the
  * 64-bit sum of per-row hashes, so it does not depend on partitioning
  * or on the order rows reach the driver.
  */
object ContentHash {
  def row(r: Row): Long = {
    val text = r.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("\u0001")
    (MurmurHash3.stringHash(text, 0x5bd1e995).toLong << 32) ^
      (MurmurHash3.stringHash(text, 0x1b873593).toLong & 0xffffffffL)
  }

  def of(rows: Array[Row]): Long = rows.foldLeft(0L)(_ + row(_))

  def hex(h: Long): String = f"$h%016x"
}
