package graft.functions

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r16: [[MinHashHex]] and [[TrigramBucketCounts]] moved from
  * CodegenFallback to real `doGenCode` (the [[Md5PrefixLong]] pattern).
  * These tests pin (1) value-identity against the composed column forms
  * the natives replaced, on ASCII + multi-byte + edge inputs, and
  * (2) that the generated code actually compiles and runs — evaluated
  * under CODEGEN_ONLY factory mode so a codegen bug cannot silently
  * fall back to the interpreted path. */
class NativeExprCodegenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withCodegenOnly[T](f: => T): T = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def minhashHex(c: Column, k: Int): Column =
    GraftExpressionBridge.column(
      MinHashHex(GraftExpressionBridge.expression(c), k))

  private def trigramCounts(c: Column, n: Int, buckets: Int): Column =
    GraftExpressionBridge.column(
      TrigramBucketCounts(GraftExpressionBridge.expression(c), n, buckets))

  // the composed form MinHashHex replaced: slot j = min over shingles
  // of md5("<j>|<shingle>") as lowercase hex
  private def composedMinhash(c: Column, k: Int): Column =
    array((0 until k).map(j =>
      array_min(transform(c, x => md5(concat(lit(s"$j|"), x))))): _*)

  // the composed form TrigramBucketCounts replaced: char n-grams,
  // hash16 = conv(substring(md5(g),1,4),16,10), bucket = pmod
  private def composedTrigram(c: Column, n: Int, buckets: Int): Column = {
    val grams = when(length(c) >= n,
      transform(sequence(lit(1), length(c) - lit(n - 1)),
        i => c.substr(i, lit(n)))).otherwise(array())
    array((0 until buckets).map(b =>
      size(filter(grams, g =>
        pmod(conv(substring(md5(g), 1, 4), 16, 10).cast("long"),
          lit(buckets.toLong)) === b.toLong)).cast("long")): _*)
  }

  private val shingleDocs: DataFrame = Seq(
    (1L, Seq("the quick brown", "quick brown fox", "brown fox jumps")),
    (2L, Seq("naïve café über", "café über straße", "über straße 東京")),
    (3L, Seq("a b c")),
    (4L, Seq("the quick brown", "quick brown fox")) // overlap with doc 1
  ).toDF("doc_id", "shingles")

  test("MinHashHex == composed k×array_min(md5) form, codegen-only") {
    val k = 8
    val rows = withCodegenOnly {
      shingleDocs
        .select(col("doc_id"), minhashHex(col("shingles"), k).as("native"),
          composedMinhash(col("shingles"), k).as("composed"))
        .collect()
    }
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}: native != composed")
    }
  }

  test("MinHashHex null semantics: empty array -> null, null -> null") {
    val df = Seq((1L, Some(Seq.empty[String])), (2L, None))
      .toDF("doc_id", "shingles")
    val got = withCodegenOnly {
      df.select(minhashHex(col("shingles"), 4).as("s")).collect()
    }
    assert(got.forall(_.isNullAt(0)))
  }

  test("TrigramBucketCounts == composed filter/size form, codegen-only") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "naïve café über straße 東京タワー"),   // multi-byte code points
      (3L, "ab"),                                   // shorter than n=3
      (4L, ""),                                     // empty
      (5L, "aaaa")                                  // repeated grams
    ).toDF("doc_id", "t")
    val rows = withCodegenOnly {
      docs.select(col("doc_id"),
          trigramCounts(col("t"), 3, 16).as("native"),
          composedTrigram(col("t"), 3, 16).as("composed"))
        .collect()
    }
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: native != composed")
    }
    // short text = all-zero histogram (sums to the gram count)
    val short = rows.find(_.getLong(0) == 3L).get.getSeq[Long](1)
    assert(short.forall(_ == 0L))
  }

  test("TrigramBucketCounts null text -> null histogram") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("abcd")))
      .toDF("doc_id", "t")
    val got = withCodegenOnly {
      df.select(col("doc_id"), trigramCounts(col("t"), 3, 8).as("h"))
        .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    }
    assert(got(1L) && !got(2L))
  }

  test("both expressions live inside a WholeStageCodegen span") {
    // a literal toDF would constant-fold to LocalTableScan; range keeps
    // a real codegen'd projection in the plan
    val plan = spark.range(4)
      .select(transform(sequence(lit(1), lit(3)),
          i => concat(lit("s"), (col("id") * 3 + i).cast("string")))
        .as("shingles"))
      .select(minhashHex(col("shingles"), 4).as("s"),
        trigramCounts(element_at(col("shingles"), 1), 3, 8).as("h"))
      .queryExecution.executedPlan
    val spans = plan.collect { case w: WholeStageCodegenExec => w.toString }
    Seq("minhash_hex", "trigram_bucket_counts").foreach { fn =>
      assert(spans.exists(_.contains(fn)),
        s"expected $fn inside WholeStageCodegen:\n$plan")
    }
  }
}
