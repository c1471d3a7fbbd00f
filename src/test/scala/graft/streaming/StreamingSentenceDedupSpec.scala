package graft.streaming

import graft.TestSpark
import graft.gdl.TableStore
import graft.operators.SentenceIndex
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingest-time sentence dedup ≡ the batch first-occurrence
  * rule over everything that has arrived, and an at-least-once replay
  * of a micro-batch is verdict-identical — both consequences of the
  * index's MIN combine, asserted here end-to-end through a real
  * foreachBatch stream. */
class StreamingSentenceDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("foreachBatch strike+refresh ≡ global rule; replay is verdict-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ssd-src").toString
    val idx = new SentenceIndex(new TableStore(spark,
      java.nio.file.Files.createTempDirectory("ssd-idx").toString), "s")
    idx.build(Seq.empty[(Long, String)].toDF("pk", "sent_text"))

    val got = scala.collection.mutable.Map.empty[Long, Boolean]
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("pk", "sent_text").write.mode("append").parquet(dir)

    writeBatch(Seq(1L -> "alpha", 2L -> "beta", 3L -> "alpha"))
    val q = spark.readStream
      .schema("pk BIGINT, sent_text STRING").parquet(dir)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        idx.ingestBatch(b).collect().foreach(r =>
          got(r.getAs[Long]("pk")) = r.getAs[Boolean]("kept"))
        ()
      }.start()
    try {
      q.processAllAvailable()
      writeBatch(Seq(4L -> "beta", 5L -> "gamma")) // beta struck by batch 1
      q.processAllAvailable()
      writeBatch(Seq(6L -> "gamma", 7L -> "delta"))
      q.processAllAvailable()

      // the global first-occurrence rule over everything that arrived
      val want = Map(1L -> true, 2L -> true, 3L -> false,
        4L -> false, 5L -> true, 6L -> false, 7L -> true)
      assert(got.toMap == want)

      // at-least-once replay: re-running batch 2 through the same
      // path changes neither its verdicts nor the stored state
      val stateBefore = idx.storedMins().collect().map(_.toString).sorted.toSeq
      val replay = idx.ingestBatch(
        Seq(4L -> "beta", 5L -> "gamma").toDF("pk", "sent_text"))
        .collect().map(r => r.getAs[Long]("pk") -> r.getAs[Boolean]("kept"))
        .toMap
      assert(replay == Map(4L -> false, 5L -> true))
      assert(idx.storedMins().collect().map(_.toString).sorted.toSeq
        == stateBefore)
    } finally q.stop()
  }
}
