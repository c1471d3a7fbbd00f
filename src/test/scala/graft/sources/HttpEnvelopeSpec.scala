package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The envelope parse contract: status/headers/content-type/charset
  * extraction, the three-way ok/malformed/none triage, the
  * first-wins duplicate-header rule, and declared-charset body
  * decode. */
class HttpEnvelopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bytes(s: String) = s.getBytes("UTF-8")

  test("ok envelope: status, lowercased headers, body split") {
    val r = HttpEnvelope.parse("a", bytes(
      "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n" +
        "X-Robots-Tag: noindex\r\n\r\nhello body"))
    assert(r.env_status == "ok" && r.http_status.contains(200L))
    assert(r.headers("content-type") == "text/html; charset=UTF-8")
    assert(r.headers("x-robots-tag") == "noindex")
    assert(r.content_type == "text/html" && r.charset == "utf-8")
    assert(new String(r.body, "UTF-8") == "hello body" &&
      r.body_text == "hello body")
  }

  test("LF-only and mixed separators both frame the body") {
    val lf = HttpEnvelope.parse("a",
      bytes("HTTP/1.0 404\nContent-Type: text/plain\n\nnope"))
    assert(lf.env_status == "ok" && lf.http_status.contains(404L) &&
      lf.body_text == "nope")
    val mixed = HttpEnvelope.parse("a",
      bytes("HTTP/1.1 200 OK\nServer: x\n\r\nbody"))
    assert(mixed.env_status == "ok" && mixed.body_text == "body")
  }

  test("duplicate headers: FIRST occurrence wins") {
    val r = HttpEnvelope.parse("a", bytes(
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Content-Type: text/plain\r\n\r\nx"))
    assert(r.content_type == "text/html")
  }

  test("declared charset decodes the body; unsupported names fall back") {
    val txt = "päge 世界 tokens here"
    val r = HttpEnvelope.parse("a",
      bytes("HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
        "charset=utf-16be\r\n\r\n") ++ txt.getBytes("UTF-16BE"))
    assert(r.charset == "utf-16be" && r.body_text == txt)
    // a bogus charset name must fall back to UTF-8, never throw
    val b = HttpEnvelope.parse("a",
      bytes("HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
        "charset=!!not-a-charset!!\r\n\r\nplain"))
    assert(b.env_status == "ok" && b.body_text == "plain")
    // quoted charset parameter unquotes
    val q = HttpEnvelope.parse("a",
      bytes("HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
        "charset=\"ISO-8859-1\"\r\n\r\n") ++
        "café".getBytes("ISO-8859-1"))
    assert(q.charset == "iso-8859-1" && q.body_text == "café")
  }

  test("malformed: HTTP/ prefix without a parsable envelope keeps all bytes") {
    for (s <- Seq("HTTP/x 200\r\n\r\nbody",          // bad version digit
                  "HTTP/1.1 20 OK\r\n\r\nbody",      // 2-digit code
                  "HTTP/1.1 200 OK\r\nNoBlankLine")) { // unterminated
      val r = HttpEnvelope.parse("a", bytes(s))
      assert(r.env_status == "malformed" && r.http_status.isEmpty &&
        r.body_text == s, s"on: $s")
    }
  }

  test("none: bare documents pass through verbatim") {
    val r = HttpEnvelope.parse("a", bytes("just a document, no envelope"))
    assert(r.env_status == "none" && r.http_status.isEmpty &&
      r.content_type == null &&
      r.body_text == "just a document, no envelope")
    val e = HttpEnvelope.parse("a", Array.empty[Byte])
    assert(e.env_status == "none" && e.body.length == 0 && e.body_text == "")
  }

  test("extract is a partition-wise projection over a DataFrame") {
    import spark.implicits._
    val df = Seq(
      ("r1", bytes("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nhi")),
      ("r2", bytes("no envelope")),
      ("r3", null.asInstanceOf[Array[Byte]]))
      .toDF("rid", "payload")
    val got = HttpEnvelope.extract(spark, df, "rid", "payload")
      .collect().map(r => r.id -> (r.env_status, r.body_text)).toMap
    assert(got("r1") == (("ok", "hi")))
    assert(got("r2") == (("none", "no envelope")))
    assert(got("r3") == (("none", "")))
    // plan shape: no exchange — a pure projection stays shuffle-free
    val plan = HttpEnvelope.extract(spark, df, "rid", "payload")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
