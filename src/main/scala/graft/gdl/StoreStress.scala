package graft.gdl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Storage-layer stress: zone/Bloom pruning and row-level merge cost
  * on a table ~170× the unit-test fixtures (1M rows, 20 generations ×
  * 8 files, interleaved string keys — the shape where zone maps prune
  * nothing and the sidecar is the only thing between a point probe and
  * a 160-file scan).
  *
  * Prints one JSON line per measurement; used to record the NOTES.md
  * scale evidence, re-runnable any round.
  *
  * Usage: runMain graft.gdl.StoreStress [workDir]
  */
object StoreStress {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("store-stress").toString)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-store-stress")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"""{"step":"$what","sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
      r
    }

    val gens = 20
    val rowsPerGen = 50000
    val store = new TableStore(spark, s"$work/tables",
      partitioning = Map.empty,
      bloomColumns = Map("t" -> Seq("id")))
    val plain = new TableStore(spark, s"$work/plain",
      partitioning = Map.empty, bloomColumns = Map.empty)

    timed(s"ingest ${gens}x$rowsPerGen with sidecars") {
      (0 until gens).foreach { g =>
        val lo = g * rowsPerGen
        val df = (lo until lo + rowsPerGen)
          .map(i => (f"${i % 97}%02dk$i%08d", i.toLong)).toDF("id", "v")
          .repartition(8)
        store.append("t", df)
      }
    }
    timed(s"ingest ${gens}x$rowsPerGen no sidecars") {
      (0 until gens).foreach { g =>
        val lo = g * rowsPerGen
        val df = (lo until lo + rowsPerGen)
          .map(i => (f"${i % 97}%02dk$i%08d", i.toLong)).toDF("id", "v")
          .repartition(8)
        plain.append("plain", df)
      }
    }

    val needle = f"${424242 % 97}%02dk${424242}%08d"
    val probe = timed("point probe WITH bloom") {
      val df = store.scan("t", col("id") === needle).get
      (df.count(), df.inputFiles.length)
    }
    val probePlain = timed("point probe NO bloom") {
      val df = plain.scan("plain", col("id") === needle).get
      (df.count(), df.inputFiles.length)
    }
    println(s"""{"probe_files_bloom":${probe._2},"probe_files_plain":${probePlain._2},"rows":${probe._1}}""")
    val (kept, listed) = store.scanFileCounts("t", col("id") === needle)
    println(s"""{"scanFileCounts_kept":$kept,"scanFileCounts_listed":$listed}""")

    // large-file sizing: 4 generations x 2 files x 250k rows — the
    // 128 MiB bin-packed maintenance shape where the old 2^18 default
    // degraded to ~2.6 bits/row and pruned nothing (VERDICT r6 #7)
    val bigStore = new TableStore(spark, s"$work/big",
      partitioning = Map.empty, bloomColumns = Map("t" -> Seq("id")))
    timed("ingest 4x500k as 250k-row files") {
      (0 until 4).foreach { g =>
        val lo = g * 500000
        bigStore.append("t", (lo until lo + 500000)
          .map(i => (f"${i % 97}%02dk$i%08d", i.toLong)).toDF("id", "v")
          .repartition(2))
      }
    }
    val bigNeedle = f"${777777 % 97}%02dk${777777}%08d"
    val (bigKept, bigListed) =
      bigStore.scanFileCounts("t", col("id") === bigNeedle)
    val (bigAbsKept, _) =
      bigStore.scanFileCounts("t", col("id") === "zz_absent")
    println(s"""{"bigfile_probe_kept":$bigKept,"bigfile_listed":$bigListed,""" +
      s""""bigfile_absent_kept":$bigAbsKept}""")

    // merge 100 scattered keys into the 1M-row table
    val updates = (0 until 100)
      .map(i => (f"${i * 9973 % 97}%02dk${i * 9973}%08d", -1L)).toDF("id", "v")
    timed("merge 100 keys into 1M rows") {
      store.merge("t", updates, Seq("id"))
    }
    val hist = store.history("t")
    println(s"""{"post_merge_kind":"${hist.last._2}","generations":${hist.size}}""")
    timed("full read after merge (count)") {
      println(s"""{"post_merge_count":${store.read("t").get.count()}}""")
    }
    timed("delete 1 key from 1M rows") {
      store.deleteWhere("t", col("id") === needle)
    }
    timed("post-delete probe (expect 0 rows)") {
      println(s"""{"post_delete_rows":${store.scan("t", col("id") === needle).get.count()}}""")
    }

    // maintenance-cost asymmetry on the 1M-row table: a full compaction
    // rewrites everything; a fold touches only the fresh delta tail.
    // Locally BOTH walls are overhead-dominated (job setup, 16 scans,
    // commit protocol), so the scale-honest number is BYTES REWRITTEN —
    // the write-amplification each policy pays per maintenance cycle.
    def lastGenBytes(table: String): Long = {
      val (seq, kind) = store.history(table).last
      val p = new org.apache.hadoop.fs.Path(f"$work/tables/$table/g$seq%07d-$kind")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    timed("compact: full rewrite of 1M rows") { store.compact("t") }
    val compactBytes = lastGenBytes("t")
    (0 until 16).foreach { g =>
      val lo = 2000000 + g * 1000
      store.append("t", (lo until lo + 1000)
        .map(i => (f"${i % 97}%02dk$i%08d", i.toLong)).toDF("id", "v"))
    }
    timed("foldDeltas: fold the 16x1k delta tail") {
      println(s"""{"folded":${store.foldDeltas("t")}}""")
    }
    val foldBytes = lastGenBytes("t")
    println(s"""{"compact_bytes_rewritten":$compactBytes,""" +
      s""""fold_bytes_rewritten":$foldBytes}""")
    timed("full read after fold (count)") {
      println(s"""{"post_fold_count":${store.read("t").get.count()}}""")
    }

    // Contended readers during pointer flips: 4 reader threads loop
    // read().count() while one writer interleaves appends, folds and
    // compactions (gc grace at its default — the grace period IS the
    // contract that lets in-flight readers keep resolving, so
    // zero-grace concurrent reads are out of contract).
    // Invariants: no reader ever throws, and every observed count is
    // monotone non-decreasing per reader (append-only table ⇒ every
    // committed snapshot's count grows; a dip would mean a read
    // resolved a half-superseded chain).
    val flip = new TableStore(spark, s"$work/flip",
      partitioning = Map.empty, bloomColumns = Map.empty)
    flip.append("t", Seq(0L).toDF("v"))
    timed("contended readers during pointer flips") {
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failures = new java.util.concurrent.atomic.AtomicLong(0)
      val dips = new java.util.concurrent.atomic.AtomicLong(0)
      val reads = new java.util.concurrent.atomic.AtomicLong(0)
      val readers = (0 until 4).map { _ =>
        new Thread(() => {
          var last = 0L
          while (!stop.get()) {
            try {
              val c = flip.read("t").get.count()
              reads.incrementAndGet()
              if (c < last) dips.incrementAndGet()
              last = math.max(last, c)
            } catch { case _: Throwable => failures.incrementAndGet() }
          }
        })
      }
      readers.foreach(_.start())
      (1 to 12).foreach { i =>
        flip.append("t", Seq.fill(100)(i.toLong).toDF("v"))
        if (i % 3 == 0) flip.foldDeltas("t")
        if (i % 4 == 0) flip.compact("t")
      }
      stop.set(true)
      readers.foreach(_.join(60000))
      println(s"""{"flip_reads":${reads.get()},"flip_failures":${failures.get()},""" +
        s""""flip_count_dips":${dips.get()},"flip_final":${flip.read("t").get.count()}}""")
      require(failures.get() == 0 && dips.get() == 0,
        s"contended readers saw ${failures.get()} failures, ${dips.get()} dips")
      require(flip.read("t").get.count() == 1201L)
    }
    spark.stop()
  }
}
