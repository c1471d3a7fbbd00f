package graft.operators

import graft.TestSpark
import graft.gdl.TableStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted-model contract: export → load round-trips the artifact
  * EXACTLY (merge order, weight bits), the manifest fingerprint is
  * load-validated so a tampered/stale artifact REFUSES instead of
  * silently mis-scoring, and stored-model consumers reproduce
  * fresh-model outputs bitwise. */
class ModelStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshStore(tag: String): TableStore = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_modelstore_$tag").toString
    new TableStore(spark, d)
  }

  private def corpus() = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en"),
      (1L, "pack my box with five dozen liquor jugs", "en"),
      (2L, "el rapido zorro marron salta sobre el perro", "es"),
      (3L, "tres tristes tigres tragan trigo en un trigal", "es"),
      (4L, "the dog and the fox and the jugs again", "en"),
      (5L, "un perro y un zorro y un tigre otra vez", "es"))
      .toDF("doc_id", "text", "lang")
  }

  test("BPE artifact round-trips: stored replay ≡ training end state") {
    val docs = corpus()
    val store = freshStore("bpe")
    val merges = Bpe.trainByteMerges(docs, "text", nMerges = 6)
    ModelStore.exportBpe(store, "m", merges)
    val model = ModelStore.loadBpe(store, "m", spark)
    assert(model.nMerges == 6L && model.merges.size == 6)
    // replayed stored merges == fresh-trained-and-counted, row for row
    val fresh = Bpe.byteTokenCounts(docs, "doc_id", "text", 6)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val stored = Bpe.byteTokenCountsWith(docs, "doc_id", "text", model.merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fresh.sameElements(stored))
  }

  test("BPE load refuses a tampered rows table") {
    val store = freshStore("bpe_tamper")
    ModelStore.exportBpe(store, "m",
      Bpe.trainByteMerges(corpus(), "text", nMerges = 4))
    // flip one merge symbol behind the manifest's back
    val rows = store.read("m_rows").get
    store.overwrite("m_rows", rows.withColumn("sym_a",
      when(col("round") === 2, lit("ff")).otherwise(col("sym_a"))))
    val e = intercept[IllegalArgumentException] {
      ModelStore.loadBpe(store, "m", spark)
    }
    assert(e.getMessage.contains("fingerprint"))
    // and a missing manifest is an error, not a guess
    intercept[RuntimeException] { ModelStore.loadBpe(store, "nope", spark) }
  }

  test("langid artifact round-trips weight BITS; stored scoring ≡ fresh") {
    val docs = corpus()
    val langs = Seq("en", "es")
    val store = freshStore("langid")
    val ws = LangId.train(docs, "doc_id", "text", "lang", langs, buckets = 8)
    ModelStore.exportLangId(store, "m", langs, ws, buckets = 8, spark)
    val model = ModelStore.loadLangId(store, "m", spark)
    assert(model.langs == langs && model.buckets == 8)
    // bit-exact weight round-trip
    ws.zip(model.weights).foreach { case (a, b) =>
      assert(a.map(java.lang.Double.doubleToLongBits)
        == b.map(java.lang.Double.doubleToLongBits))
    }
    val fresh = LangId
      .trainScore(docs, "doc_id", "text", "lang", langs, buckets = 8)
      .orderBy("doc_id").collect().map(_.toSeq)
    val stored = LangId.scoreWith(docs, "doc_id", "text", "lang",
        model.langs, model.weights, model.buckets)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(fresh.length == stored.length)
    fresh.zip(stored).foreach { case (a, b) => assert(a == b) }
  }

  test("langid load refuses tampered weights and truncated rows") {
    val langs = Seq("en", "es")
    val store = freshStore("langid_tamper")
    ModelStore.exportLangId(store, "m", langs,
      LangId.train(corpus(), "doc_id", "text", "lang", langs, buckets = 4),
      buckets = 4, spark)
    val rows = store.read("m_rows").get
    store.overwrite("m_rows",
      rows.withColumn("w", col("w") + lit(1e-13))) // sub-display tamper
    val e = intercept[IllegalArgumentException] {
      ModelStore.loadLangId(store, "m", spark)
    }
    assert(e.getMessage.contains("fingerprint"))
    store.overwrite("m_rows", rows.filter(col("j") =!= 0))
    intercept[IllegalArgumentException] {
      ModelStore.loadLangId(store, "m", spark)
    }
  }
}
