package graft.gdl

import graft.TestSpark
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Specs' view of a [[TableStore]]'s files. Assertions about which
  * files a read opens go through the store's own snapshot API
  * ([[TableStore.snapshotFileList]]), so they hold for any layout. Only
  * the forging helpers at the bottom — which protocol specs use to
  * build the states gc leaves behind — know how a generation sits on
  * disk. */
object StoreFiles {
  private def fs(p: Path): FileSystem =
    p.getFileSystem(TestSpark.spark.sparkContext.hadoopConfiguration)

  /** A file's path without scheme: `inputFiles` and `snapshotFileList`
    * spell the same file differently. */
  def norm(file: String): String = new Path(file).toUri.getPath

  /** The files the current snapshot of `table` reads. */
  def snapshot(store: TableStore, table: String): Set[String] =
    store.snapshotFileList(table).getOrElse(Nil).map(norm).toSet

  /** The files a DataFrame opens. */
  def opened(df: DataFrame): Set[String] = df.inputFiles.map(norm).toSet

  /** Run `op` and return the files its commits added to the snapshot. */
  def added(store: TableStore, table: String)(op: => Any): Set[String] = {
    val before = snapshot(store, table)
    op
    snapshot(store, table) -- before
  }

  /** The generation dirs holding unpartitioned data files — where a
    * generation's `_zonemap.tsv` / `_bloom.tsv` sidecars live. */
  def dirsOf(files: Set[String]): Set[Path] =
    files.map(f => new Path(f).getParent)

  // ---- forging: generation `seq` of `table` is the pointer file
  // `_commits/g<seq>` (content `<kind>\n<data dir name>`) plus the data
  // dir it names; its commit instant is the pointer's mtime.

  final case class Generation(pointer: Path, data: Path) {
    def exists: Boolean = fs(pointer).exists(pointer) && fs(data).exists(data)
    def gone: Boolean = !fs(pointer).exists(pointer) && !fs(data).exists(data)
  }

  def generation(root: String, table: String, seq: Long): Generation = {
    val ptr = new Path(root, f"$table/_commits/g$seq%07d")
    val in = fs(ptr).open(ptr)
    val dataName = try new String(in.readAllBytes(), "UTF-8").split("\n", 2)(1)
    finally in.close()
    Generation(ptr, new Path(new Path(root, table), dataName))
  }

  /** Delete generation `seq` — pointer and data — as gc would. */
  def drop(root: String, table: String, seq: Long): Unit = {
    val g = generation(root, table, seq)
    fs(g.pointer).delete(g.pointer, false)
    fs(g.data).delete(g.data, true)
  }

  /** Backdate generation `seq` to `mtime` (pointer and data dir), so a
    * grace-guarded gc sees it as committed then. */
  def age(root: String, table: String, seq: Long,
          mtime: Long = System.currentTimeMillis() - 60000): Unit = {
    val g = generation(root, table, seq)
    fs(g.pointer).setTimes(g.pointer, mtime, -1)
    fs(g.data).setTimes(g.data, mtime, -1)
  }

  /** [[age]] every committed generation of `table`. */
  def ageAll(store: TableStore, root: String, table: String): Unit =
    store.history(table).foreach(g => age(root, table, g._1))
}
