package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** `span_hashes` refuses parameters that would give wrong answers: a
  * key wider than 15 nibbles overflows 60 bits (p) or reads past the
  * digest (s), a zero stride divides by zero, a zero width hashes the
  * empty span. Both the SQL function and the Scala API refuse them
  * when the expression is built.
  */
class SpanHashesArgsSpec extends SparkSpec {

  private def refused(width: Int, stride: Int, p: Int, s: Int, what: String): Unit = {
    val scala = intercept[IllegalArgumentException](
      TextFunctions.spanHashes(col("toks"), width, stride, p, s))
    assert(scala.getMessage.contains(what), scala.getMessage)
    val sql = intercept[Exception](spark.sql(
      s"SELECT span_hashes(array('a', 'b', 'c'), $width, $stride, $p, $s) AS sp")
      .collect())
    val msgs = Iterator.iterate[Throwable](sql)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains(what)), msgs.mkString("\n"))
  }

  test("span_hashes refuses p = 16 (h1 would read 64 bits and can go negative)") {
    refused(2, 1, 16, 15, "p must be in 1..15")
  }

  test("span_hashes refuses s = 16 (h2 would read past the 16-byte digest)") {
    refused(2, 1, 15, 16, "s must be in 1..15")
  }

  test("span_hashes refuses stride = 0 (division by zero)") {
    refused(2, 0, 15, 15, "stride must be >= 1")
  }

  test("span_hashes refuses width = 0 (n + 1 hashes of the empty span)") {
    refused(0, 1, 15, 15, "width must be >= 1")
  }

  test("span_hashes still accepts the edges of the valid range") {
    val row = spark.sql(
      "SELECT span_hashes(array('a', 'b', 'c'), 1, 1, 15, 1) AS x, " +
        "span_hashes(array('a', 'b', 'c'), 3, 3, 1, 15) AS y").head
    assert(row.getSeq[AnyRef](0).size == 3 && row.getSeq[AnyRef](1).size == 1)
  }
}
