package loadbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame

/** Order-independent multiset digest of rows: the row count and the
  * wrapping sum of a 64-bit hash per row. A row hashes the `toString`
  * of its values in column order, so a Derby `BIGINT` read back as
  * `java.lang.Long` matches the Spark `LongType` value it came from.
  * Floating-point values are rounded to 9 significant digits, so a sum
  * whose last bits depend on shuffle fetch order digests the same.
  */
final class Digest {
  var rows: Long = 0L
  var sum: Long = 0L

  def add(values: Seq[Any]): Unit = {
    val s = values.map(Digest.canon).mkString("\u0001")
    val hi = MurmurHash3.stringHash(s, 0x5eed).toLong
    val lo = MurmurHash3.stringHash(s, 0xfeed).toLong & 0xffffffffL
    rows += 1
    sum += (hi << 32) | lo
  }

  override def equals(o: Any): Boolean = o match {
    case d: Digest => d.rows == rows && d.sum == sum
    case _ => false
  }
  override def hashCode: Int = (rows * 31 + sum).##
  override def toString: String = f"$rows%d:$sum%016x"
}

object Digest {

  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => "%.9g".formatLocal(java.util.Locale.ROOT, d)
    case f: Float => "%.9g".formatLocal(java.util.Locale.ROOT, f.toDouble)
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  /** Digest of a frame, collected to the driver. */
  def of(df: DataFrame): Digest = {
    val d = new Digest
    df.collect().foreach(r => d.add(r.toSeq))
    d
  }
}
