package graft

import graft.text.Pii
import org.apache.spark.sql.functions._

class PiiSpec extends SparkSpecBase {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "contact jane.doe+spam@example.co.uk or call (555) 123-4567 now"),
      (2L, "server at 192.168.10.254 answered"),
      (3L, "ssn 123-45-6789 card 4111 1111 1111 1111"),
      (4L, "nothing sensitive here, just 42 words"),
      (5L, "")).toDF("doc_id", "text")
  }

  test("detect counts each PII class") {
    val got = Pii.detect(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    // (email, card, ssn, phone, ipv4, total)
    assert(got(1L) == ((1L, 0L, 0L, 1L, 0L, 2L)))
    assert(got(2L) == ((0L, 0L, 0L, 0L, 1L, 1L)))
    assert(got(3L) == ((0L, 1L, 1L, 0L, 0L, 2L)))
    assert(got(4L) == ((0L, 0L, 0L, 0L, 0L, 0L)))
    assert(got(5L) == ((0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("redact replaces matches with typed placeholders and flags rows") {
    val got = Pii.redact(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(got(1L)._1 == "contact <EMAIL> or call <PHONE> now")
    assert(got(1L)._2)
    assert(got(2L)._1 == "server at <IP> answered")
    assert(got(3L)._1 == "ssn <SSN> card <CARD>")
    assert(got(4L) == (("nothing sensitive here, just 42 words", false)))
    assert(got(5L) == (("", false)))
  }
}
