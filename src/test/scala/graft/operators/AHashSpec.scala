package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the perceptual-hash image family: hand-computed
  * aHash bands through the REAL PNG encode→decode roundtrip,
  * quarantine on undecodable bytes and foreign geometry, and the
  * banded near-dup join's exact-hamming verdicts. */
class AHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hashesOf(docs: Seq[(Long, String)]) =
    Multimodal.decodeImageAHash(spark,
      Multimodal.encodeGrayPng(spark, docs.toDF("doc_id", "text"),
        "doc_id", "text", w = 16, h = 8),
      "id", "media").collect().map(h => h.id -> h).toMap

  test("hand-computed bands survive the real PNG roundtrip") {
    // 64×'z'(122) then space padding(32): sum = 64·122 + 64·32 = 9856;
    // first 32 blocks 64·244 = 15616 > 9856 → set, rest 4096 < → clear
    val h = hashesOf(Seq(1L -> ("z" * 64)))(1L)
    assert(h.format == "png")
    assert((h.b0, h.b1, h.b2, h.b3) == (65535L, 65535L, 0L, 0L))
  }

  test("undecodable bytes and foreign geometry quarantine, not crash") {
    val garbage = Seq((7L, Array[Byte](1, 2, 3, 4, 5))).toDF("id", "media")
    val g = Multimodal.decodeImageAHash(spark, garbage, "id", "media")
      .collect().head
    assert(g.format == "unknown" && g.b0 == -1L)
    // a REAL png of the wrong geometry (256 px ≠ the 128-px contract)
    val wrong = Multimodal.encodeGrayPng(spark,
      Seq(8L -> "abc").toDF("doc_id", "text"), "doc_id", "text", w = 16, h = 16)
    val wfmt = Multimodal.decodeImageAHash(spark, wrong, "id", "media")
      .collect().head
    assert(wfmt.format == "png" && wfmt.b0 == -1L)
  }

  test("banded near-dup join: exact hamming verdicts, quarantine drops") {
    val docs = Seq(
      1L -> ("z" * 64),          // bands (FFFF, FFFF, 0, 0)
      2L -> ("z" * 64),          // identical → hamming 0
      3L -> (" " * 64 + "z" * 64), // inverted structure → no shared band
      4L -> ("z" * 60))          // bands (FFFF, 3FFF, 0, 0) → hamming 2
    val hashes = Multimodal.decodeImageAHash(spark,
      Multimodal.encodeGrayPng(spark, docs.toDF("doc_id", "text"),
        "doc_id", "text", w = 16, h = 8),
      "id", "media").toDF()
      .unionByName(Seq((9L, "unknown", -1L, -1L, -1L, -1L))
        .toDF("id", "format", "b0", "b1", "b2", "b3"))
    def pairs(maxHamming: Int) =
      Multimodal.aHashNearDupPairs(hashes, maxHamming).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val p2 = pairs(2)
    // doc 3's bands are the exact inverse (0,0,FFFF,FFFF) — no band
    // POSITION matches 1/2/4, so it is not even a candidate (that is
    // the LSH working); doc 9 (quarantine) never joins
    assert(p2 == Map((1L, 2L) -> 0L, (1L, 4L) -> 2L, (2L, 4L) -> 2L))
    assert(pairs(1) == Map((1L, 2L) -> 0L))
  }
}
