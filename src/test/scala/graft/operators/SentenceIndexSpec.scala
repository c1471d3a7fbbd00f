package graft.operators

import graft.TestSpark
import graft.gdl.TableStore
import org.scalatest.funsuite.AnyFunSuite

/** The min-combine contract: refresh ≡ rebuild, replay is a no-op,
  * out-of-order batches converge, strike verdicts match the global
  * first-occurrence rule, compaction is value-identity. */
class SentenceIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sents(rows: (Long, String)*) =
    rows.toDF("pk", "sent_text")

  private def fresh(tag: String) = new SentenceIndex(
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory(s"sidx-$tag").toString),
    "s")

  private def state(i: SentenceIndex): Map[String, Long] =
    i.storedMins().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("refresh == rebuild; replay and order are no-ops; compact is identity") {
    val a = sents(10L -> "alpha", 11L -> "beta", 12L -> "alpha")
    val b = sents(20L -> "beta", 21L -> "gamma")
    val inc = fresh("inc"); inc.build(a); inc.refresh(b)
    val scratch = fresh("scratch"); scratch.build(a.union(b))
    assert(state(inc) == state(scratch))
    // crash replay: the same batch again changes nothing
    inc.refresh(b)
    assert(state(inc) == state(scratch))
    // out-of-order: an EARLIER pk arriving later still wins its key
    inc.refresh(sents(1L -> "beta"))
    assert(state(inc)(md5Hex("beta")) == 1L)
    // physical compaction is logical identity
    val before = state(inc)
    inc.compactKeys()
    assert(state(inc) == before)
    assert(inc.storedMins().count() == 3)
  }

  test("strike: stored-first strikes the batch, batch-new keeps its min") {
    val idx = fresh("strike")
    idx.build(sents(10L -> "alpha", 11L -> "beta"))
    val batch = sents(20L -> "alpha", 21L -> "gamma", 22L -> "gamma",
      5L -> "beta")
    val v = idx.strike(batch).collect()
      .map(r => r.getAs[Long]("pk") -> r.getAs[Boolean]("kept")).toMap
    assert(v(20L) == false) // stored alpha@10 wins
    assert(v(21L) == true)  // first gamma in the batch
    assert(v(22L) == false) // batch-internal dup
    assert(v(5L) == true)   // batch pk BELOW the stored beta@11 wins
  }

  test("NULL sent_text is one legitimate key, never a dropped verdict") {
    val idx = fresh("nulls")
    idx.build(sents(10L -> "alpha"))
    val batch = Seq((20L, null), (21L, null), (22L, "alpha"))
      .toDF("pk", "sent_text")
    val v = idx.strike(batch).collect()
      .map(r => r.getAs[Long]("pk") -> r.getAs[Boolean]("kept")).toMap
    // a plain equi-join would have returned NO rows for pk 20/21
    assert(v == Map(20L -> true, 21L -> false, 22L -> false))
    idx.refresh(batch)
    // the null key persists and keeps striking later batches
    val v2 = idx.strike(Seq((30L, null)).toDF("pk", "sent_text"))
      .collect().map(r => r.getAs[Boolean]("kept"))
    assert(v2.toSeq == Seq(false))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
