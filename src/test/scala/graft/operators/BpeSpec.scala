package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Hand-checkable BPE training fixtures, including the only case where
  * merge candidates can be consecutive (sym_a == sym_b runs). */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("three rounds on a tiny corpus match the hand computation") {
    // words: abab x2, abc x1
    val docs = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val got = Bpe.trainMerges(docs, "text", nMerges = 3)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    // r1: (a,b) seen 2x2 + 1 = 5; r2: abab -> ab|ab so (ab,ab) = 2;
    // r3: only (ab,c) = 1 remains
    assert(got.toSeq == Seq(
      (1L, "a", "b", 5L), (2L, "ab", "ab", 2L), (3L, "ab", "c", 1L)))
  }

  test("identical-symbol runs merge leftmost non-overlapping") {
    // aaaa: (a,a) x3; aaab: (a,a) x2 + (a,b) -> best (a,a, 5)
    // merge: aaaa -> aa|aa, aaab -> aa|a|b
    // round 2 counts are all 1; tie-break picks (a,b) lexicographically
    val docs = Seq((1L, "aaaa aaab")).toDF("doc_id", "text")
    val got = Bpe.trainMerges(docs, "text", nMerges = 2)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", "a", 5L), (2L, "a", "b", 1L)))
  }

  test("applyMerges replays the learned rules to the training-end state") {
    val docs = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val pieces = Bpe.applyMerges(docs, "text", Seq(("a", "b"), ("ab", "ab")))
      .as[(String, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
    assert(pieces("abab") == Seq("abab"))
    assert(pieces("abc") == Seq("ab", "c"))
  }

  test("byte-level: GPT-2 pretokens, hex-pair merges, replay == train end") {
    // "the cat the car" pretokenizes to ["the", " cat", " the", " car"]
    // — leading spaces attach (byte 0x20 participates in merges).
    val docs = Seq((1L, "the cat the car")).toDF("doc_id", "text")
    val merges = Bpe.trainByteMerges(docs, "text", nMerges = 2)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    // pairs over {74 68 65, 20 63 61 74, 20 74 68 65, 20 63 61 72}:
    // (74,68)=2 (th), (68,65)=2 (he), (20,63)=2 (" c"), (63,61)=2,
    // (61,74)=1, (20,74)=1, (61,72)=1 — tie on cnt=2 breaks to
    // lexicographically smallest ("20","63"); then round 2 ties at 2
    // again: ("2063","61") vs (74,68) vs (68,65) -> "2063"+"61".
    assert(merges.head == ((1L, "20", "63", 2L)))
    assert(merges(1) == ((2L, "2063", "61", 2L)))
    // replaying the learned table reproduces the training-end pieces
    val applied = Bpe.applyByteMerges(docs, "text",
        merges.map(m => (m._2, m._3)))
      .as[(String, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
    assert(applied(" cat") == Seq("206361", "74"))
    assert(applied(" car") == Seq("206361", "72"))
    assert(applied("the") == Seq("74", "68", "65"))
    // per-doc count: 3 (the) + 2 ( cat) + 4 ( the) + 2 ( car) = 11
    val counts = Bpe.byteTokenCounts(docs, "doc_id", "text", nMerges = 2)
      .as[(Long, Long)].collect().toMap
    assert(counts(1L) == 11L)
  }

  test("byte pieces round-trip: unhex(join(pieces)) == word, non-ASCII") {
    import org.apache.spark.sql.functions._
    // multi-byte UTF-8 (é, ö, —) proves the hex-pair construction is
    // exact for any byte string, the property that makes byte-level
    // BPE total — no unknown-symbol escape hatch
    val docs = Seq((1L, "héllo wörld — café héllo")).toDF("doc_id", "text")
    val merges = Bpe.trainByteMerges(docs, "text", nMerges = 4)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).toSeq
    val rt = Bpe.applyByteMerges(docs, "text", merges)
      .groupBy(col("word"))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("pos"), col("sym")))), x => x.getField("sym")), "")
        .as("hx"))
      .select(col("word"), decode(unhex(col("hx")), "UTF-8").as("rt"))
    assert(rt.count() > 0)
    assert(rt.filter(col("rt") =!= col("word")).count() == 0)
  }

  test("token-id streams decode losslessly back to the document text") {
    val docs = Seq(
      (1L, "héllo wörld — café héllo again"),
      (2L, "the cat sat on the mat, the cat sat"),
      (3L, "")).toDF("doc_id", "text")
    val merges = Bpe.trainByteMerges(docs, "text", nMerges = 5)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).toSeq
    val ids = Bpe.encodeIds(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect()
    // tok_idx is a contiguous 1..n stream per doc
    ids.groupBy(_._1).foreach { case (_, rows) =>
      val idxs = rows.map(_._2).sorted
      assert(idxs.sameElements(1L to idxs.length))
    }
    assert(!ids.exists(_._1 == 3L)) // empty doc: no tokens
    // inverse vocabulary: id -> symbol (byte ids are their hex pair)
    val inv = Bpe.vocabIds(merges).map(_.swap).toMap
    def sym(id: Long): String =
      inv.getOrElse(id, { assert(id < 256); f"$id%02X" })
    for ((doc, text) <- Seq(1L -> "héllo wörld — café héllo again",
                            2L -> "the cat sat on the mat, the cat sat")) {
      val hx = ids.filter(_._1 == doc).sortBy(_._2)
        .map(r => sym(r._3)).mkString("")
      val bytes = hx.grouped(2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
      assert(new String(bytes, "UTF-8") == text, s"doc $doc")
    }
  }

  test("packed id tape decodes back to text across a doc boundary") {
    import org.apache.spark.sql.functions._
    val t1 = "héllo wörld from the first document here"
    val t2 = "the second document carries on the tape"
    val docs = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    val merges = Bpe.trainByteMerges(docs, "text", nMerges = 4)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).toSeq
    val tape = SequencePack.packIdTape(
        Bpe.encodeIds(docs, "doc_id", "text", merges),
        "doc_id", "tok_idx", "token_id",
        docs.select(col("doc_id"), lit("s").as("src")), "src",
        seqLen = 8L, padId = -1L)
      .as[(String, Long, Long, Long, Option[Long])].collect()
      .sortBy(r => (r._2, r._3))
    // every sequence is exactly 8 cells, positions 0..7
    tape.groupBy(_._2).foreach { case (_, cells) =>
      assert(cells.map(_._3).sorted.sameElements(0L to 7L))
    }
    // the boundary sequence carries cells of BOTH documents
    assert(tape.groupBy(_._2).values
      .exists(c => c.flatMap(_._5).distinct.length == 2))
    // pads: only in the final sequence's tail, pad id, NULL doc
    val pads = tape.filter(_._5.isEmpty)
    assert(pads.nonEmpty && pads.forall(_._4 == -1L))
    assert(pads.map(_._2).distinct.sameElements(Array(tape.map(_._2).max)))
    // the non-pad tape, read in (seq_idx, seq_pos) order, decodes to
    // doc1's bytes followed by doc2's — the trainer's view round-trips
    val inv = Bpe.vocabIds(merges).map(_.swap).toMap
    def sym(id: Long): String =
      inv.getOrElse(id, { assert(id < 256); f"$id%02X" })
    val hx = tape.filter(_._5.nonEmpty).map(r => sym(r._4)).mkString("")
    val bytes = hx.grouped(2)
      .map(h => Integer.parseInt(h, 16).toByte).toArray
    assert(new String(bytes, "UTF-8") == t1 + t2)
    // and per-doc reassembly matches each source text exactly
    for ((doc, text) <- Seq(1L -> t1, 2L -> t2)) {
      val dhx = tape.filter(_._5.contains(doc)).map(r => sym(r._4)).mkString("")
      val db = dhx.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
      assert(new String(db, "UTF-8") == text, s"doc $doc")
    }
  }
}
