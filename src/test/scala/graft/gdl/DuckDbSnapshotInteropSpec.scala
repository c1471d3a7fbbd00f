package graft.gdl

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** r14 VERDICT #8 carry-over (closed in r16): the TableStore↔DuckDB
  * snapshot-read interop pin, run against the REAL foreign engine.
  * [[TableStore.snapshotFileList]] hands a pointer-committed snapshot
  * to tools/duckdb_snapshot_read.py (zero TableStore code on that
  * side: read_parquet over the list with union_by_name), and DuckDB
  * must see exactly the rows Spark's read() sees — generations
  * unioned, merge tombstones excluded, schema evolution nulled in.
  * Skips cleanly when python3/duckdb is absent from the environment. */
class DuckDbSnapshotInteropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val duckdbAvailable: Boolean =
    try Seq("python3", "-c", "import duckdb").! == 0
    catch { case _: Exception => false }

  private def runTool(files: Seq[String], sql: String = ""): Seq[String] = {
    val list = java.nio.file.Files.createTempFile("snap-files", ".txt")
    java.nio.file.Files.writeString(list,
      files.mkString("", "\n", "\n"))
    val cmd = Seq("python3", "tools/duckdb_snapshot_read.py",
      list.toString) ++ (if (sql.nonEmpty) Seq(sql) else Nil)
    val out = new StringBuilder
    val rc = cmd ! ProcessLogger(l => { out.append(l).append('\n'); () },
      l => System.err.println(s"[duckdb] $l"))
    assert(rc == 0, s"duckdb_snapshot_read.py failed:\n$out")
    out.toString.linesIterator.toSeq
  }

  test("DuckDB reads the snapshot list row-identically to read()") {
    assume(duckdbAvailable, "python3+duckdb not available")
    val root = java.nio.file.Files
      .createTempDirectory("duckdb-interop").toString
    val store = new TableStore(spark, root, autoCompactDeltas = 1000)
    // two generations + a merge (tombstones the replaced rows) + a
    // schema-evolved append (older generations predate column `w`)
    store.append("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    store.merge("t", Seq((2L, "B"), (4L, "d")).toDF("k", "v"), Seq("k"))
    store.append("t",
      Seq((5L, "e", 50L)).toDF("k", "v", "w"))
    val snap = store.snapshotFileList("t").get

    // DuckDB side: one canonical text line per row, NULL w spelled out
    val duck = runTool(snap,
      "SELECT concat(k, '|', v, '|', coalesce(CAST(w AS VARCHAR), 'NULL'))" +
        " AS r FROM snap ORDER BY k")
    // Spark side: the same canonical line from read()
    val sparkRows = store.read("t").get
      .select(org.apache.spark.sql.functions.concat_ws("|",
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.col("w").cast("string"),
          org.apache.spark.sql.functions.lit("NULL"))))
      .as[String].collect().toSeq.sorted
    assert(duck.sorted == sparkRows,
      s"duckdb=$duck\nspark=$sparkRows")

    // default tool mode: the row count in the JSON line must match
    val json = runTool(snap).last
    val n = """"rows": (\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
    assert(n == sparkRows.size)
  }
}
