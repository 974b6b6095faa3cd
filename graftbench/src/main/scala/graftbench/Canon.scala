package graftbench

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a materialized result: every row is
  * rendered canonically (doubles keep their sign bit and every digit,
  * maps sort their entries) and the sorted renderings are hashed, so
  * two results agree exactly when they hold the same multiset of rows. */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  def fingerprint(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(value).sorted.foreach { r =>
      md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    s"${rows.size}:" + md.digest().map("%02x".format(_)).mkString
  }
}
