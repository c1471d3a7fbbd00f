package graft.streaming

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream-static enrichment — the most common streaming join: an
  * unbounded event stream joined to a broadcast dimension. The static
  * side is re-resolvable per micro-batch (Spark re-plans it), needs no
  * watermark, and keeps NO state — parity with the batch join must be
  * exact.
  */
class StreamStaticJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("stream-static broadcast enrichment equals the batch join") {
    val stage = java.nio.file.Files.createTempDirectory("enrich-src").toString
    val events = Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    events.write.mode("overwrite").parquet(stage)
    // static dimension derived deterministically from the key space
    val dim = events.select(col("user_id")).distinct()
      .withColumn("segment",
        when(col("user_id") % 3 === 0, "a")
          .when(col("user_id") % 3 === 1, "b").otherwise("c"))

    val src = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING")
      .parquet(stage)
    val q = src.join(broadcast(dim), Seq("user_id"))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_out")
      val expected = events.join(broadcast(dim), Seq("user_id"))
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      assert(streamed.count() === expected.count())
      assert(streamed.exceptAll(expected).isEmpty &&
             expected.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }
}
