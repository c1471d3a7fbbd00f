package graft.gdl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{coalesce, col, desc, input_file_name, lit,
  row_number}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet-backed table store with atomic, generation-versioned commits —
  * the engine's replacement for the reference's three DynamoDB tables
  * (infrastructure/storage_stack.py:62-95) in an offline build without a
  * table format like Delta/Iceberg.
  *
  * Layout per table: data dirs `root/<table>/_data-<uuid>/part-*.parquet`,
  * each with the writer's schema in `_schema.json` (Spark's
  * `StructType.json`, partition columns at the writer's types), and one
  * pointer file per generation, `root/<table>/_commits/g<seq>`, whose
  * content is `<kind>\n<data dir name>`. Readers list the pointers and
  * union the newest `full` generation with every later `delta`, reading
  * each generation with its recorded schema — no read infers one.
  *
  * Commit protocol (one, on every filesystem): stage the data dir, its
  * schema, stats and tombstones in place, then publish with ONE
  * create-exclusive write of the pointer for the next seq — the
  * semantic an S3 conditional PUT (If-None-Match: *) provides and
  * HDFS/local `create(overwrite = false)` provides natively. Invariants:
  *  - the pointer name is the slot lock: exactly one writer owns each
  *    seq, so two generations never share a slot;
  *  - a generation is visible iff its pointer reads complete; a staged
  *    data dir no pointer names is invisible (and reclaimed by [[gc]]);
  *  - no publish step renames, so the protocol holds on object stores
  *    (TableStorePointerSpec drives it on a filesystem whose
  *    publish-level rename throws).
  *
  * Scale: appends (the hot path — validation/asset rows) are pure file
  * additions, no read-modify-write; only the small catalog table pays
  * the full-rewrite `overwrite` path. Readers prune by listing, not by
  * reading a manifest table. At 100 TB the per-table dir becomes a
  * partitioned layout (`dataset_id=` subdirs) with the same commit
  * protocol per partition.
  *
  * Retention: superseded generations are NOT deleted at commit time —
  * a concurrent reader (or a retained lazy DataFrame re-evaluated across
  * several actions) may still hold their file paths. They are GC'd only
  * once the generation superseding them is older than `gcGraceMs`
  * (checked on later commits or an explicit [[gc]]), the same
  * grace-period discipline Delta/Iceberg use for vacuum. Delta count per
  * table is bounded: an append that leaves more than `autoCompactDeltas`
  * deltas since the last full generation folds them into one
  * generation, so read-time file listings stay O(1) amortized no matter
  * how many appends a table sees.
  *
  * Snapshot writers (compact, fold, merge, delete, clustered rewrite)
  * claim EXACTLY the slot after the snapshot they read. If any other
  * writer committed in between, that slot is taken, the staged
  * generation is discarded and the writer retries on a fresh snapshot —
  * so a delta committed concurrently can never land BELOW a generation
  * that superseded the table without it (which would hide it from
  * read() and let gc delete it). This is the optimistic
  * detect-conflict-and-retry protocol log-structured table formats use
  * for RewriteFiles vs Append commits.
  *
  * @param autoCompactDeltas compact when an append leaves more than this
  *                          many deltas since the last full generation
  * @param gcGraceMs minimum age before a superseded generation is deleted
  * @param partitioning per-table directory layout (`col=value/` subdirs),
  *                     applied on EVERY write to that table — appends,
  *                     overwrites and compactions — so the layout is a
  *                     property of the table, not of whichever append
  *                     happened to trigger a compaction
  * @param bloomColumns per-table high-cardinality columns to build
  *                     per-file Bloom sidecars for at commit time.
  *                     Zone maps prune RANGE probes but are useless for
  *                     point lookups on columns whose values interleave
  *                     across files (ULIDs, doc ids, URLs — every file's
  *                     [min,max] spans the whole key space); the Bloom
  *                     sidecar is what keeps an id lookup O(matching
  *                     files) on an append-mostly 100 TB table without
  *                     a clustering rewrite
  * @param bloomBitsPerFile CAP on the per-(file, column) Bloom build
  *                     width. The actual width is sized per commit
  *                     from its footer-only row count
  *                     ([[TableStore.bloomWidthFor]]: ~10 bits/row for
  *                     the commit total, so the worst file keeps ~1%
  *                     FPP) and each file's sidecar is then OR-folded
  *                     down to its own count ([[TableStore.shrinkBloom]])
  *                     — a small delta pays small-delta buffers, and a
  *                     250k-row bin-packed file still prunes. The
  *                     default cap 2^25 bounds the transient build
  *                     buffer at 4 MiB per file × column (shuffled once
  *                     as partial-agg state; a task reads ~1 file under
  *                     default split sizing) and covers ~3.3M rows/file
  *                     — beyond any 128 MiB layout's row count. Int on
  *                     purpose: a per-file bitset beyond 2^31 bits
  *                     (256 MiB) would dwarf the data it indexes
  */
class TableStore(spark: SparkSession, root: String,
                 autoCompactDeltas: Int = 64,
                 gcGraceMs: Long = 10L * 60 * 1000,
                 partitioning: Map[String, Seq[String]] = TableStore.defaultPartitioning,
                 bloomColumns: Map[String, Seq[String]] = TableStore.defaultBloomColumns,
                 bloomBitsPerFile: Int = 1 << 25) {
  import TableStore.{Gen, PointerGone, PointerOk, PointerRead, PointerTorn, PointerUnreadable}
  require(bloomBitsPerFile > 0, "bloomBitsPerFile must be positive")

  private def layout(table: String): Seq[String] =
    partitioning.getOrElse(table, Nil)

  /** Bloom config for a table: an exact-name entry wins; otherwise
    * every `*suffix` wildcard entry whose suffix matches contributes.
    * The wildcard form exists for FAMILIES of dynamically-named tables
    * — the epoch tables of [[graft.operators.NearDupIndex]] /
    * [[graft.operators.VectorIndex]] (`<name>_e<E>_clusters`, …) get
    * their point-probe sidecars from one `*_clusters` entry instead of
    * a per-epoch config nobody could write ahead of time. */
  private def bloomColsFor(table: String): Seq[String] =
    bloomColumns.get(table).map(_.toSeq).getOrElse(
      bloomColumns.iterator.collect {
        case (pat, cols) if pat.startsWith("*") &&
          table.endsWith(pat.drop(1)) => cols
      }.flatten.toSeq.distinct)

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(table: String) = new Path(root, table)

  // ---- commit pointers ---------------------------------------------
  // Data staging may rename INSIDE a staged dir (Spark's task committer,
  // the stats files of writeStats); production object stores use a
  // rename-free committer there. Publishing never renames.

  private def commitsDir(table: String) = new Path(tableDir(table), "_commits")

  private def pointerPath(table: String, seq: Long) =
    new Path(commitsDir(table), f"g$seq%07d")

  /** The seq a pointer-shaped name `g<digits>` stands for; None for any
    * other name in `_commits/` (provably not a commit marker). */
  private def pointerSeq(name: String): Option[Long] =
    if (name.length > 1 && name.startsWith("g") &&
        name.drop(1).forall(_.isDigit)) Some(name.drop(1).toLong)
    else None

  /** Pointer files are immutable once created — cache forever. Safe
    * because a pointer PATH is never reused with different content:
    * slots are claimed create-exclusive, and seq never goes backwards
    * (gc only deletes SUPERSEDED generations, so the newest — which
    * the committer's `next` derives from — always survives). Entries
    * for pointers gc deletes are evicted via [[deletePointerQuietly]]
    * so a long-lived driver doesn't grow the map across generations. */
  private val pointerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]

  /** Read a pointer file, distinguishing torn content from a failed
    * read. Transient IO errors are retried with bounded EXPONENTIAL
    * backoff + jitter (2·2^k ms ± jitter, 4 tries ≈ ≤ 40 ms total):
    * this sits on the driver's read path under contention, where a
    * fixed ladder synchronizes colliding readers into retry convoys —
    * jitter decorrelates them, and the cap keeps a persistent fault's
    * worst case under one scheduler tick. */
  private def readPointerState(f: FileSystem, p: Path): PointerRead = {
    val k = p.toString
    val cached = pointerCache.get(k)
    if (cached != null) return PointerOk(cached._1, cached._2)
    val maxAttempts = 4
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      try {
        val in = f.open(p)
        val content = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
        content.split("\n", 2) match {
          case Array(kind, dir) if kind.nonEmpty && dir.nonEmpty =>
            pointerCache.put(k, (kind, dir))
            return PointerOk(kind, dir)
          case _ => return PointerTorn
        }
      } catch {
        case _: java.io.FileNotFoundException => return PointerGone
        case _: java.io.IOException =>
          if (attempt < maxAttempts) {
            val base = 2L << attempt // 4, 8, 16 ms
            Thread.sleep(base / 2 +
              java.util.concurrent.ThreadLocalRandom.current().nextLong(base))
          }
      }
    }
    PointerUnreadable
  }

  /** Does any pointer-shaped commit entry at seq ≤ `tail` read as
    * [[PointerUnreadable]]? Such an entry may be a fully COMMITTED
    * generation hidden behind a read fault — [[generations]] silently
    * omits it — so any operation whose commit would SUPERSEDE the
    * chain at or below `tail` (compact's `comp`, [[foldDeltas]]'s
    * fold, gc's supersede sweeps) must abort and retry later: a
    * snapshot taken without the hidden rows that then outranks them
    * turns a transient read fault into permanent row loss the moment
    * the fault heals. Mirrors the orphan-`_data-` sweep gate in
    * [[gc]]. Torn/gone pointers are fine (provably not commits). */
  private def unreadableAtOrBelow(table: String, tail: Long): Boolean = {
    val cd = commitsDir(table)
    val f = fs(cd)
    f.exists(cd) && f.listStatus(cd).exists { s =>
      s.isFile && pointerSeq(s.getPath.getName).exists(_ <= tail) &&
        readPointerState(f, s.getPath) == PointerUnreadable
    }
  }

  /** The mtime at or before which a torn pointer ([[isDebris]]) or an
    * unreferenced stage is a dead writer's debris: older than the gc
    * grace AND [[TableStore.stagingMs]]. A live writer's pointer is torn
    * between create and close, its stage unreferenced until the pointer
    * publishes; the (reader) grace says nothing about how long that is. */
  private def debrisBefore: Long =
    System.currentTimeMillis() - math.max(gcGraceMs, TableStore.stagingMs)

  private def isDebris(f: FileSystem, p: Path): Boolean =
    try f.getFileStatus(p).getModificationTime <= debrisBefore
    catch { case _: java.io.IOException => false }

  /** Delete a pointer file best-effort and evict its cache entry. Only
    * ever called on provably-torn pointers (or by gc on superseded
    * generations) — never on a merely unreadable one. */
  private def deletePointerQuietly(f: FileSystem, p: Path): Unit = {
    try f.delete(p, false)
    catch { case _: java.io.IOException => () }
    pointerCache.remove(p.toString)
  }

  /** The committed generations, ascending seq: one per complete
    * pointer (the pointer name owns its slot, so seqs are unique). A
    * vanished, torn or unreadable pointer is skipped — with the
    * in-place retries above, an unreadable COMMITTED pointer skipping
    * out of a listing needs a persistent, not transient, IO fault. */
  private def generations(table: String): Seq[Gen] = {
    val dir = tableDir(table)
    val cd = commitsDir(table)
    val f = fs(dir)
    if (!f.exists(cd)) Seq.empty
    else f.listStatus(cd).toSeq.filter(_.isFile).flatMap { s =>
      pointerSeq(s.getPath.getName).flatMap(seq => readPointerState(f, s.getPath) match {
        case PointerOk(kind, dataName) => Some((seq, kind, new Path(dir, dataName)))
        case _ => None
      })
    }.sortBy(_._1)
  }

  /** "full" (overwrite) and "comp" (compaction) generations both contain
    * the whole table at their seq; "comp" additionally promises it
    * changed NO data — the distinction incremental readers need. */
  private def isFullKind(kind: String): Boolean =
    kind == "full" || kind == "comp"

  /** The live generations: the newest full one plus every later delta,
    * minus the ones a fold supersedes. */
  private def liveGenerations(table: String): Seq[Gen] = {
    val gens = TableStore.dropFoldCovered(generations(table))
    val lastFull = gens.lastIndexWhere(g => isFullKind(g._2))
    if (lastFull >= 0) gens.drop(lastFull) else gens
  }

  /** A generation chain with its tombstones resolved once: `gone(g)` are
    * g's files a row-level [[merge]]/[[deleteWhere]] rewrote (they must
    * not be read). Only merges INSIDE the chain apply — which is what
    * makes [[readAt]] time travel exact for free.
    *
    * The only reader of committed parquet: every generation is read one
    * way ([[readParquet]]) with the schema in its `_schema.json` — no
    * inference job, and `col=value/` columns keep the writer's types. A
    * generation whose every file was rewritten away is never read. */
  private final class Chain(val gens: Seq[Gen]) {
    private val replaced: Map[String, Set[String]] =
      gens.filter(_._2 == TableStore.mergeKind).flatMap(g => readReplaces(g._3))
        .groupMapReduce(_._1)(_._2)(_ ++ _)

    def gone(g: Gen): Set[String] = replaced.getOrElse(g._3.getName, Set.empty)

    private def liveFiles(g: Gen): Seq[String] = listDataFiles(g._3).filterNot(gone(g)).sorted

    private lazy val schemas: Map[Path, StructType] =
      gens.map(g => g._3 -> readSchema(g._3)).toMap

    /** What survives of `g`: None (its whole directory) when nothing in
      * it was tombstoned, its live files otherwise. */
    def survivors(g: Gen): Option[Seq[String]] =
      if (gone(g).isEmpty) None else Some(liveFiles(g))

    /** `g`'s rows with its recorded schema: the generation-relative
      * `files`, or its whole directory for None; None for no files. */
    def read(g: Gen, files: Option[Iterable[String]]): Option[DataFrame] = {
      val paths = files.fold(Seq(g._3.toString))(
        _.toSeq.sorted.map(f => new Path(g._3, f).toString))
      if (paths.isEmpty) None else Some(readParquet(g._3, schemas(g._3), paths))
    }

    /** The recorded schemas of the generations that still hold files. */
    def liveSchemas: Seq[StructType] =
      gens.filter(g => survivors(g).forall(_.nonEmpty)).map(g => schemas(g._3))

    /** The chain's rows. The last generation can never be tombstoned by
      * anything inside the chain, so some generation is read whenever
      * `gens` is non-empty. Schema evolution: a generation written
      * before a column existed reads as null for that column (old and
      * new generations stay jointly readable; consumers of evolved
      * columns coalesce defaults). */
    lazy val table: DataFrame = gens.flatMap(g => read(g, survivors(g)))
      .reduce(_.unionByName(_, allowMissingColumns = true))

    /** The chain's data files as absolute paths, in generation order. */
    def files: Seq[String] =
      gens.flatMap(g => liveFiles(g).map(f => new Path(g._3, f).toString))
  }

  /** THE read of a generation's parquet, committed or staged: `paths`
    * (its directory, or some of its files) under `gen` as basePath,
    * with `schema` — the one `_schema.json` records. */
  private def readParquet(gen: Path, schema: StructType, paths: Seq[String]): DataFrame =
    spark.read.schema(schema).option("basePath", gen.toString).parquet(paths: _*)

  /** A generation's `_schema.json`. Like the tombstone list it is
    * correctness, not an optimization: a read never falls back to
    * inferring the schema, so a missing or unreadable one fails it. */
  private def readSchema(gen: Path): StructType =
    try DataType.fromJson(readText(gen, TableStore.schemaFile)).asInstanceOf[StructType]
    catch { case scala.util.control.NonFatal(e) => throw new IllegalStateException(
      s"generation $gen has no readable ${TableStore.schemaFile}", e) }

  /** Current table contents, or None if never written. */
  def read(table: String): Option[DataFrame] = {
    val gens = liveGenerations(table)
    if (gens.isEmpty) None else Some(new Chain(gens).table)
  }

  /** THE INTEROP CONTRACT: the current snapshot as a
    * plain list of absolute parquet file paths — exactly the files
    * [[read]] unions, in generation order with merge tombstones
    * excluded. Any engine that reads parquet reads a pointer-committed
    * snapshot with no TableStore code: DuckDB runs
    * `read_parquet([...], union_by_name=true, hive_partitioning=true)`
    * over this list (`union_by_name` because older generations may
    * predate a column — [[read]]'s allowMissingColumns; `hive_
    * partitioning` because layout columns live in `col=value/` dirs).
    *
    * Stability: the list is immutable once returned — a concurrent
    * writer only ever ADDS generation dirs and publishes them with a
    * new pointer; no committed file is mutated or removed by a commit,
    * so a reader holding this list sees the same rows for as long as
    * [[gc]]'s grace period keeps superseded generations (forever if gc
    * never runs). That is the same snapshot-isolation story
    * [[readAt]] gives Spark readers, extended to foreign engines. */
  def snapshotFileList(table: String): Option[Seq[String]] = {
    val gens = liveGenerations(table)
    if (gens.isEmpty) None else Some(new Chain(gens).files)
  }

  /** Time travel: the table as of generation `seq` (inclusive) — the
    * newest full generation at or before `seq` plus every later delta
    * up to it. Generations still on disk resolve exactly (a superseded
    * one survives at least `gcGraceMs`, longer if gc never runs).
    * Returns None only when the table was never written; asking for a
    * point in history whose generations were all gc'd (or that predates
    * the first commit) throws [[TableStore.VacuumedHistoryException]] —
    * vacuumed history must not be mistaken for an absent table. */
  def readAt(table: String, seq: Long): Option[DataFrame] = {
    val all = generations(table)
    val gens = all.filter(_._1 <= seq)
    if (gens.isEmpty) {
      if (all.nonEmpty)
        throw new TableStore.VacuumedHistoryException(
          s"table '$table' has no surviving generation at or before seq=$seq " +
          s"(earliest on disk: g${all.head._1}); history was gc'd or the seq " +
          "predates the first commit")
      return None
    }
    val lastFull = gens.lastIndexWhere(g => isFullKind(g._2))
    val (base, from) =
      if (lastFull >= 0) (Seq(gens(lastFull)), gens(lastFull)._1 + 1)
      // a chain with no full generation under it is complete ONLY if it
      // accounts for every slot from the table's first commit (seq 0) —
      // a straggler kept by the gc grace period while its predecessors
      // were deleted must not masquerade as the whole table
      else (Seq.empty, 0L)
    // the chain may resolve each slot as the original generation or as
    // a fold that STARTS there; a slot with neither (gc'd under a fold
    // whose range extends past `seq`, or a vanished predecessor) is
    // vacuumed history, never a silent partial read
    TableStore.coverSlots(gens, from, gens.last._1) match {
      case Left(missing) =>
        throw new TableStore.VacuumedHistoryException(
          s"table '$table' at seq=$seq: generation g$missing does not " +
          "survive (gc'd, or superseded by a fold covering past the " +
          "requested point); history was vacuumed")
      case Right(chain) =>
        Some(new Chain(base ++ chain.collect { case (g, true) => g }).table)
    }
  }

  /** Committed generations, oldest first:
    * (seq, "full" | "delta" | "comp" | "merge" | "fold<coveredFrom>"). */
  def history(table: String): Seq[(Long, String)] =
    generations(table).map(g => (g._1, g._2))

  /** Incremental change feed (CDC-lite): the rows appended after
    * generation `sinceSeq`, for consumers that checkpoint a seq and poll
    * — the lake-side contract a downstream index/stream builder needs.
    *
    * Semantics:
    *  - returns None only if the table was never written;
    *  - compaction generations ("comp") carry no data change and are
    *    skipped — a reader's checkpoint survives compaction;
    *  - an overwrite ("full") after `sinceSeq` means the delta stream
    *    cannot express what happened → [[TableStore.FullRefreshRequiredException]];
    *  - generation seqs are dense, so a GAP in the surviving listing
    *    above `sinceSeq` means gc deleted history the reader never saw →
    *    [[TableStore.VacuumedHistoryException]] (never a silent miss).
    *
    * `untilSeq` bounds the read to generations ≤ it (inclusive): a
    * poller snapshots `history(table).last` FIRST and reads up to that
    * snapshot, so rows committed concurrently are neither skipped nor
    * double-consumed — they belong to the next poll.
    *
    * Scale: reads ONLY the delta generations in range — cost is
    * O(new data), independent of table size. */
  def readChangesSince(table: String, sinceSeq: Long,
                       untilSeq: Long = Long.MaxValue): Option[DataFrame] =
    changeDeltas(table, sinceSeq, untilSeq) match {
      case None => None
      case Some(deltas) if deltas.nonEmpty => Some(new Chain(deltas).table)
      case _ => read(table).map(_.limit(0)) // no changes: empty, schema kept
    }

  /** [[readChangesSince]] with zone-map pruning: only the delta FILES
    * whose zones can satisfy `predicate` are opened, and the full
    * predicate filters the result — the selective-maintenance feed (an
    * index over one dataset's rows polls a partitioned 100 TB change
    * stream and reads O(its own new files)). Same protocol failures as
    * the unfiltered feed: skipping is not allowed to hide an overwrite
    * or a vacuum. */
  def readChangesSinceWhere(table: String, sinceSeq: Long, predicate: Column,
                            untilSeq: Long = Long.MaxValue): Option[DataFrame] =
    changeDeltas(table, sinceSeq, untilSeq) match {
      case None => None
      case Some(deltas) if deltas.nonEmpty =>
        Some(readWhere(new Chain(deltas), predicate))
      case _ => read(table).map(_.filter(predicate).limit(0))
    }

  /** The delta generations between the checkpoint and `untilSeq`, after
    * the change-feed protocol checks (vacuum gap, overwrite). None =
    * table never written; empty = no changes. */
  private def changeDeltas(table: String, sinceSeq: Long, untilSeq: Long): Option[Seq[Gen]] = {
    val all0 = generations(table)
    if (all0.isEmpty) return None
    val all = all0.filter(_._1 <= untilSeq)
    if (all.isEmpty) {
      // every generation at or below the reader's snapshot was gc'd; if
      // the snapshot is ahead of the checkpoint, appends in between may
      // have existed and are gone — never a silent miss
      if (untilSeq > sinceSeq)
        throw new TableStore.VacuumedHistoryException(
          s"table '$table': no generation at or below untilSeq=$untilSeq " +
          s"survives (earliest on disk: g${all0.head._1}); changes after " +
          s"seq=$sinceSeq were vacuumed — the reader must re-bootstrap")
      return Some(Nil)
    }
    val maxSeq = all.last._1
    if (maxSeq <= sinceSeq) return Some(Nil)
    // account for every slot in (sinceSeq, maxSeq]: the original
    // generation, or a fold that STARTS at the slot (its rows are
    // exactly the covered deltas' — one fold serves a whole run). A
    // fold reached mid-range (checkpoint INSIDE its covered span)
    // cannot be split per seq, so the walk relies on the surviving
    // originals; once gc reclaims them, the history is vacuumed — a
    // typed re-bootstrap, never a silent miss or double delivery.
    val chain = TableStore.coverSlots(all, sinceSeq + 1, maxSeq) match {
      case Left(missing) =>
        throw new TableStore.VacuumedHistoryException(
          s"table '$table': generation g$missing after seq=$sinceSeq does " +
          "not survive (gc'd, or folded across the checkpoint); the " +
          "incremental reader must re-bootstrap")
      case Right(c) => c
    }
    chain.find(_._1._2 == "full").foreach { case ((s, _, _), _) =>
      throw new TableStore.FullRefreshRequiredException(
        s"table '$table' was overwritten at g$s (> seq=$sinceSeq); " +
        "changes since then are not expressible as appends")
    }
    // a row-level merge/delete REWRITES prior rows in place — updates
    // and deletions cannot be expressed as appends either
    chain.find(_._1._2 == TableStore.mergeKind).foreach { case ((s, _, _), _) =>
      throw new TableStore.FullRefreshRequiredException(
        s"table '$table' had rows merged/deleted at g$s (> seq=$sinceSeq); " +
        "the incremental reader must re-bootstrap")
    }
    Some(chain.collect { case (g, true) => g })
  }

  /** The table filtered by `predicate`, opening only the FILES the
    * generations' sidecars cannot rule out — the file skipping that
    * makes Delta/Iceberg point reads O(matching files) instead of
    * O(table). The column-vs-literal conjuncts of the analyzed predicate
    * (=, <, <=, >, >=, BETWEEN, IN, `<=>` a non-null literal; the literal
    * on either side) are checked as ranges against the per-file zone
    * maps and as equalities against the Bloom sketches of the table's
    * `bloomColumns`; anything else (OR, NOT, expressions over the column)
    * prunes nothing, and strict bounds relax to inclusive. The FULL
    * predicate filters whatever is read, so the result is exactly
    * `read(table).filter(predicate)`. With a layout that clusters the
    * column (partitionBy, or [[rewriteClustered]] by a
    * [[graft.functions.ZOrderExpr]] key) a 100 TB table answers a
    * key-range probe from the few files whose zones intersect it.
    *
    * Safety over speed: a generation with no stats file (older writer,
    * stats write failed) is always read; a column recorded as
    * unsupported-for-stats never skips; a column absent from a file's
    * zones was absent (or all-null) there, where a range cannot match —
    * skip is exact, not best-effort. */
  def scan(table: String, predicate: Column): Option[DataFrame] = {
    val gens = liveGenerations(table)
    if (gens.isEmpty) None else Some(readWhere(new Chain(gens), predicate))
  }

  /** True iff `column` exists in the recorded schema of EVERY live
    * generation of `table` that still holds rows (false for an absent
    * table). Reads only the `_schema.json`s — no parquet. The soundness gate for
    * physical pruning on an EVOLVED column: old generations read the
    * column as null via unionByName, so a `col IN (...)` scan predicate
    * would silently drop every pre-evolution row; callers must fall
    * back to an unpruned read when this is false. */
  def columnInAllGenerations(table: String, column: String): Boolean = {
    val chain = new Chain(liveGenerations(table))
    chain.gens.nonEmpty && chain.liveSchemas.forall(_.fieldNames.contains(column))
  }

  /** THE pruning decision of every predicate read ([[scan]],
    * [[readChangesSinceWhere]], [[deleteWhere]]'s file discovery,
    * [[probeExists]], [[scanFileCounts]]). Walks the analyzed condition of
    * `filtered` (a Spark 4 Column is a lazy tree whose comparisons exist
    * only after analysis) once, and reads each generation's sidecars
    * once (a re-read could race gc). */
  private def prunePlan(chain: Chain, filtered: DataFrame): Seq[TableStore.GenPlan] = {
    val (bounds, eqs) = filtered.queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, _) =>
        (TableStore.predicateBounds(cond), TableStore.predicateEqualities(cond))
      case _ => (Nil, Nil)
    }
    chain.gens.map { g =>
      val gone = chain.gone(g)
      val zm = readSidecar(g._3, TableStore.zoneMapFile)(TableStore.parseZoneMap)
      val bf = if (eqs.isEmpty) None
        else readSidecar(g._3, TableStore.bloomFile)(TableStore.parseBloom)
      // a tombstoned file may still sit in ITS generation's sidecars
      // (stats are written once) — subtract, never read stale rows
      val listed = zm.map(_.keySet).orElse(bf.map(_.keySet))
        .fold(0)(files => (files -- gone).size)
      val kept = TableStore.prunedFiles(zm, bounds, bf, eqs).map(_ -- gone)
      TableStore.GenPlan(g, kept, listed)
    }
  }

  /** `chain` read through [[prunePlan]]: per generation the chain's own
    * read when the sidecars keep every live file (or there are none), a
    * subset read with the generation's schema, or nothing; the FULL
    * predicate then filters whatever was read. */
  private def readWhere(chain: Chain, predicate: Column): DataFrame = {
    val full = chain.table.filter(predicate)
    val parts = prunePlan(chain, full).flatMap(p =>
      chain.read(p.gen, p.kept.filter(_.size < p.listed).orElse(chain.survivors(p.gen))))
    // Anchor the union on the FULL schema (zero rows): if every
    // generation carrying a predicate column was pruned and only
    // stats-less generations lacking it remain, the kept parts alone
    // would not resolve `predicate` (AnalysisException) — the anchor
    // null-fills the column, matching read(table).filter(predicate).
    parts.foldLeft(full.limit(0))(_.unionByName(_, allowMissingColumns = true))
      .filter(predicate)
  }

  /** Existence probe for replay guards: does any row satisfy
    * `predicate`? Reads through the pruning plan, so generations whose
    * sidecars exclude the predicate are never opened — a streaming sink
    * that tags each appended generation with a constant batch id pays
    * O(live-generation metadata + at most one generation's data) per
    * micro-batch instead of an unbounded full-table scan (the guard
    * runs EVERY micro-batch; anything O(table) grows without bound on
    * a long-running stream). If the table, or any column the predicate
    * names (exact case), is absent, the probe is false without touching
    * data. */
  def probeExists(table: String, predicate: Column): Boolean = {
    val chain = new Chain(liveGenerations(table))
    lazy val names = chain.liveSchemas.flatMap(_.fieldNames).toSet
    chain.gens.nonEmpty &&
      org.apache.spark.sql.GraftExpressionBridge.columnNames(predicate).forall(names) &&
      !readWhere(chain, predicate).isEmpty
  }

  /** (files a [[scan]] with this predicate opens, files in the live
    * snapshot) — what the sidecars actually save. The scan is built,
    * not run, and its opened files are counted as Spark resolves them,
    * so directory-level partition pruning is included and the count is
    * always the scan's own; the total is [[snapshotFileList]]'s size. */
  def scanFileCounts(table: String, predicate: Column): (Int, Int) = {
    val chain = new Chain(liveGenerations(table))
    if (chain.gens.isEmpty) (0, 0)
    else (readWhere(chain, predicate).inputFiles.length, chain.files.size)
  }

  /** A generation's zone-map or Bloom sidecar, parsed. Stats are an
    * optimization: absent or unreadable reads as None (no stats,
    * must-read). */
  private def readSidecar[A](gen: Path, name: String)(parse: String => A): Option[A] =
    try Some(parse(readText(gen, name)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** A file of a generation's dir as text; FileNotFoundException if absent. */
  private def readText(gen: Path, name: String): String = {
    val p = new Path(gen, name)
    val in = fs(p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Non-recursive: a stage gc reclaimed fails the write, never comes back hollow. */
  private def writeText(gen: Path, name: String, txt: String): Unit = {
    val p = new Path(gen, name)
    val out = fs(p).createFile(p).overwrite(true).build()
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  /** A generation's data files as generation-relative paths (partition
    * dirs kept). Listed at commit and when a tombstone forces a
    * file-granular read — the no-merge read fast path never pays this. */
  private def listDataFiles(gen: Path): Seq[String] = {
    val f = fs(gen)
    def walk(p: Path): Seq[String] =
      f.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (s.isDirectory) walk(s.getPath)
        else if (n.endsWith(".parquet"))
          Seq(TableStore.relativize(gen.toString, s.getPath.toString))
        else Nil
      }
    walk(gen)
  }

  /** The tombstone list a merge generation carries: dir-name of an
    * EARLIER generation → the files this merge rewrote. Unlike the
    * zone/Bloom sidecars, tombstones are CORRECTNESS, not an
    * optimization: an unreadable list must FAIL the read — degrading
    * to empty would resurrect every rewritten row as a duplicate. A
    * genuinely absent file is fine (an insert-only merge replaces
    * nothing); tombstones are staged before the pointer publishes the
    * generation, so absent never means lost. */
  private def readReplaces(gen: Path): Map[String, Set[String]] =
    try TableStore.parseReplaces(readText(gen, TableStore.replacesFile))
    catch { case _: java.io.FileNotFoundException => Map.empty }

  /** Compute and stage a generation's stats — zone map AND (when the
    * table has `bloomColumns`) the Bloom sidecar — in ONE aggregation
    * pass over the just-written files: the min/max and sketch
    * aggregates share a single `groupBy(input_file_name())`, so a
    * Bloom-configured table pays ~the same commit-time stats cost as a
    * zone-only one (measured: separate passes doubled ingest wall).
    * O(new data), never re-evaluates the input plan. Stats are an
    * OPTIMIZATION: any failure leaves the generation without them,
    * which readers treat as must-read — never a commit failure. A
    * successful pass deletes the empty part file Spark's task 0 leaves,
    * unless every file is empty (one must carry the schema). */
  private def writeStats(table: String, tmp: Path, schema: StructType,
                         f: FileSystem): Unit =
    try {
      // the staged dir read with the schema `_schema.json` records, as
      // every later read of it is: `col=value/` partition columns enter
      // the stats at the writer's types. Reading the "_data-" dir warns
      // ("all paths were ignored") but resolves — explicit root paths
      // bypass the hidden-path filter
      val df = readParquet(tmp, schema, Seq(tmp.toString))
      val bloomCols = bloomColsFor(table).filter(c =>
        df.schema.fields.exists(fd =>
          fd.name == c && graft.gdl.expr.BloomSidecar.eligibleType(fd.dataType)))
      // build width sized from THIS commit's row count (a footer-only
      // count — no column data): every file holds ≤ the commit total,
      // so the width covers the worst file at ~10 bits/row, a small
      // delta's build buffers stay small-delta-sized, and shrinkBloom
      // still folds each FILE's sidecar down to its own row count.
      // bloomBitsPerFile is the CAP (buffer-size bound), not the width.
      val width =
        if (bloomCols.isEmpty) bloomBitsPerFile
        else TableStore.bloomWidthFor(df.count(), bloomBitsPerFile)
      val (zoneTxt, bloomTxt, withRows) = TableStore.computeStats(df,
        tmp.toString, bloomCols, width, TableStore.bloomHashes)
      // stage-and-rename INSIDE the staged dir: a mid-write failure must
      // not leave a TRUNCATED stats file behind (missing (file, column)
      // lines read as "column absent" = skippable — silently wrong
      // results); a dangling "...tmp" file is invisible to readers
      def stage(name: String, txt: String): Unit = {
        writeText(tmp, name + ".tmp", txt)
        if (!f.rename(new Path(tmp, name + ".tmp"), new Path(tmp, name)))
          f.delete(new Path(tmp, name + ".tmp"), false)
      }
      stage(TableStore.zoneMapFile, zoneTxt)
      bloomTxt.foreach(stage(TableStore.bloomFile, _))
      val listed = listDataFiles(tmp).toSet
      // the subset test: both listings spell the files alike, or no delete
      if (withRows.nonEmpty && withRows.subsetOf(listed))
        (listed -- withRows).foreach(rel => f.delete(new Path(tmp, rel), false))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Cluster the table for zone-tight probes: fold the live generations
    * into ONE full-contents generation laid out so each part file
    * covers a narrow range of `clusterCol` (range partitioning +
    * in-file sort — pass a `z_order(x, y)` column for 2-D locality).
    * Contents are unchanged, so it commits as "comp" (invisible to the
    * change feed) under the same optimistic expected-slot protocol as
    * [[compact]]; after it, the per-file zone maps turn a key probe
    * into O(matching files) reads — appends interleave keys, clustering
    * is what makes the zones tight. */
  def rewriteClustered(table: String, clusterCol: Column, nFiles: Int): Unit = {
    var attempts = 0
    var done = false
    while (!done && attempts < 5) {
      attempts += 1
      val gens = liveGenerations(table)
      if (gens.isEmpty) done = true
      else done =
        try commit(table,
          new Chain(gens).table
            .repartitionByRange(nFiles, clusterCol)
            .sortWithinPartitions(clusterCol),
          "comp", expectedSeq = Some(gens.last._1 + 1))
        catch { case scala.util.control.NonFatal(_) => false }
    }
  }

  /** Last-wins resolution for tables maintained as status-delta appends
    * (e.g. `import_executions`): the row with the highest `seqCol` per
    * key. One window shuffle keyed on the key columns — point lookups
    * should instead filter on the key FIRST (parquet pushdown) and take
    * `ORDER BY seqCol DESC LIMIT 1`, as ImportStatus.get does. */
  def readLatestBy(table: String, keyCols: Seq[String],
                   seqCol: String): Option[DataFrame] =
    read(table).map { df =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(desc(seqCol))
      df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }

  /** Append rows as a new delta generation (no read-modify-write). The
    * table's configured `partitioning` lays the generation out as
    * `col=value/` subdirs so reads with equality predicates on those
    * columns prune whole directories — the 100 TB layout for
    * processing_assets / validation_results is `dataset_id`
    * (SURVEY §7.4 #7). */
  def append(table: String, df: DataFrame): Unit = {
    commit(table, df, "delta", expectedSeq = None)
    // bound read-time listings, tiered like a log-structured store.
    // Tier 1 (cheap, the steady state): fold the trailing delta run
    // into one generation — O(run), so ingest maintenance never reads
    // the table. Tier 2 (rare): when folds/merges themselves pile up
    // past 2×autoCompactDeltas live generations, one full compaction
    // resets the chain — write amplification is a full rewrite every
    // ~autoCompactDeltas² appends instead of every autoCompactDeltas.
    // Best-effort: the append itself has already committed, so a
    // compaction hiccup (e.g. a concurrent writer's gc) must not turn a
    // successful append into a failure — the next append retries anyway.
    val tail = liveGenerations(table).dropWhile(g => isFullKind(g._2))
    try {
      if (tail.size > 2 * autoCompactDeltas) compact(table)
      else if (tail.reverse.takeWhile(_._2 == "delta").size > autoCompactDeltas) {
        foldDeltas(table)
        ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Replace table contents (new full generation supersedes the past). */
  def overwrite(table: String, df: DataFrame): Unit = {
    commit(table, df, "full", expectedSeq = None)
    ()
  }

  /** Row-level upsert at O(affected files) — the MERGE INTO the
    * reference expresses as per-item DynamoDB writes, re-expressed as
    * copy-on-write file rewrite: rows of `updates` whose `keyCols`
    * match an existing row replace it; the rest insert. Only the files
    * CONTAINING a matched key are rewritten — their surviving rows and
    * all of `updates` land in one new "merge" generation whose
    * tombstone list (`_replaces.tsv`, published by the same pointer)
    * hides the rewritten files from every reader. Untouched
    * files — the overwhelming majority of a 100 TB table — are never
    * opened for writing.
    *
    * Discovery is one map-only scan joined against the (usually
    * broadcast-small) distinct update keys — the same touched-file
    * scan Delta/Iceberg MERGE runs; no shuffle of the table.
    *
    * Semantics notes: `updates` must be key-unique (two update rows
    * with one key land as two rows — garbage in, garbage out);
    * updates missing columns write null there (schema evolution
    * rules). Incremental readers checkpointed BEFORE a merge get
    * [[TableStore.FullRefreshRequiredException]] — an update is not
    * expressible as an append. Time travel to a pre-merge seq shows
    * pre-merge rows exactly (tombstones apply only from generations
    * inside the read's chain).
    *
    * Concurrency: commits under the expected-slot protocol (like
    * [[compact]]) — a concurrent append between the discovery snapshot
    * and the commit forfeits the slot and the merge retries on a fresh
    * snapshot, so a concurrently-appended row for a merged key is
    * never silently shadowed. */
  def merge(table: String, updates: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val gens = liveGenerations(table)
      if (gens.isEmpty) { append(table, updates); return }
      val chain = new Chain(gens)
      val keys = updates.select(keyCols.map(col): _*).distinct()
      val affectedAbs = chain.table.withColumn("_gf", input_file_name())
        .join(keys, keyCols).select("_gf").distinct()
        .collect().map(_.getString(0)).toSeq
      val replaces = TableStore.groupByGeneration(gens, affectedAbs)
      val newRows =
        if (replaces.isEmpty) updates // pure insert, but still slot-guarded
        else affectedRows(chain, replaces)
          .join(keys, keyCols.toSeq, "left_anti")
          .unionByName(updates, allowMissingColumns = true)
      val kind = if (replaces.isEmpty) "delta" else TableStore.mergeKind
      val done =
        try commit(table, newRows, kind,
          expectedSeq = Some(gens.last._1 + 1), replaces = replaces)
        catch { case scala.util.control.NonFatal(_) => false }
      if (done) return
    }
    throw new IllegalStateException(
      s"merge into '$table' lost the commit race $attempts times")
  }

  /** Row-level delete at O(affected files): rewrite only the files
    * holding a matching row, minus those rows, tombstoning the
    * originals — same mechanism, protocol and caveats as [[merge]].
    * Discovery reads through the same pruning plan as [[scan]], so the
    * zone/Bloom sidecars bound it to O(candidate files) for pruned
    * predicates (a key-equality delete never scans the table). */
  def deleteWhere(table: String, predicate: Column): Unit = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val gens = liveGenerations(table)
      if (gens.isEmpty) return
      val chain = new Chain(gens)
      val affectedAbs = readWhere(chain, predicate)
        .withColumn("_gf", input_file_name())
        .select("_gf").distinct().collect().map(_.getString(0)).toSeq
      if (affectedAbs.isEmpty) return // nothing matches: no-op, no commit
      val replaces = TableStore.groupByGeneration(gens, affectedAbs)
      // three-valued logic: DELETE removes rows where the predicate is
      // TRUE; a NULL-evaluating row is KEPT (bare !predicate would
      // evaluate NULL and silently drop it)
      val keep = !coalesce(predicate, lit(false))
      val newRows = affectedRows(chain, replaces).filter(keep)
      val done =
        try commit(table, newRows, TableStore.mergeKind,
          expectedSeq = Some(gens.last._1 + 1), replaces = replaces)
        catch { case scala.util.control.NonFatal(_) => false }
      if (done) return
    }
    throw new IllegalStateException(
      s"deleteWhere on '$table' lost the commit race $attempts times")
  }

  /** The full contents of the to-be-rewritten files, each read with its
    * generation's schema. */
  private def affectedRows(chain: Chain,
                           replaces: Map[String, Set[String]]): DataFrame =
    replaces.toSeq.sortBy(_._1).flatMap { case (genName, rels) =>
      chain.read(chain.gens.find(_._3.getName == genName).get, Some(rels))
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Compaction: fold the current generations into one full generation
    * (same contents, one pass) — runs automatically once a table
    * accumulates `autoCompactDeltas` deltas; superseded generations are
    * deleted lazily by [[gc]] after the grace period.
    *
    * Concurrency-safe: the full generation must claim EXACTLY the slot
    * after the snapshot's newest generation. If a concurrent writer
    * committed a delta in between, the claim fails, the staged full
    * generation is discarded, and compaction retries on a fresh snapshot
    * (bounded; compaction is best-effort — a skipped attempt is retried
    * by a later append). Without the expected-slot check, that delta
    * would sort BELOW the new full generation, be hidden from read()
    * and eventually deleted by gc — a lost write. */
  def compact(table: String): Unit = {
    var attempts = 0
    var done = false
    while (!done && attempts < 5) {
      attempts += 1
      val gens = liveGenerations(table)
      if (gens.isEmpty) done = true
      // an unreadable pointer at or below the snapshot tail may hide a
      // COMMITTED generation this snapshot lacks; committing a comp
      // above it would permanently supersede the hidden rows once the
      // fault heals (see unreadableAtOrBelow). Skip — compaction is
      // best-effort and a later append's auto-compact retries it.
      else if (unreadableAtOrBelow(table, gens.last._1)) done = true
      else done =
        // kind "comp": contains the whole table but changed no data, so
        // incremental readers (readChangesSince) skip it
        try commit(table, binPacked(new Chain(gens).table, gens), "comp",
          expectedSeq = Some(gens.last._1 + 1))
        catch {
          // a concurrent compactor's gc can delete a snapshot file
          // between our listing and the staging write — stale snapshot,
          // retry on a fresh one
          case scala.util.control.NonFatal(_) => false
        }
    }
  }

  /** Minor compaction: fold the trailing run of PURE delta generations
    * into ONE `fold<from>` generation carrying exactly their rows —
    * bounding the listing and the read-side union at O(new data) cost,
    * never O(table). This is what keeps a 100 TB append-mostly table's
    * maintenance write amplification sane: [[compact]] rewrites the
    * whole table (and therefore must be rare); a fold rewrites only
    * the deltas since the last full/merge/fold, which an
    * [[autoCompactDeltas]]-triggered cadence keeps ≈ the recent-append
    * window.
    *
    * Protocol: the fold commits under the expected-slot guard (a
    * racing append forfeits the attempt, like [[compact]]); covered
    * originals stay on disk for `gcGraceMs` AFTER the fold commits, so
    * in-flight readers, mid-covered-range change-feed checkpoints, and
    * time travel into the covered span all keep resolving exactly;
    * once gc reclaims them, those mid-range reads become the same
    * typed [[TableStore.VacuumedHistoryException]] any vacuumed
    * history raises. Checkpoints at fold boundaries (the common poller
    * state) are served by the fold itself, forever. The run never
    * crosses a merge/full/fold generation, so a fold can carry no
    * hidden tombstones and no covered slot can demand a re-bootstrap
    * the originals didn't already.
    *
    * Returns true if a fold committed; false when there was nothing
    * worth folding (< 2 trailing deltas) or every attempt lost the
    * slot race. */
  def foldDeltas(table: String): Boolean = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val gens = generations(table)
      val lastFull = gens.lastIndexWhere(g => isFullKind(g._2))
      val run = gens.drop(lastFull + 1).reverse
        .takeWhile(_._2 == "delta").reverse
      if (run.size < 2) return false
      // same hidden-generation gate as compact: a fold covering the
      // range [run.head, gens.last] would supersede (and gc would
      // reclaim) an unreadable-but-committed delta inside it
      if (unreadableAtOrBelow(table, gens.last._1)) return false
      val done =
        try commit(table, binPacked(new Chain(run).table, run),
          f"fold${run.head._1}%07d",
          expectedSeq = Some(gens.last._1 + 1))
        catch { case scala.util.control.NonFatal(_) => false }
      if (done) {
        // covered originals are now superseded — reclaim them the same
        // lazy way full commits do (grace-guarded inside gc)
        gc(table)
        return true
      }
    }
    false
  }

  /** Bin-pack a maintenance rewrite: a union of N generations carries
    * the SUM of their partition counts, so a fold/compaction of many
    * small deltas would otherwise write hundreds of near-empty files
    * (each dragging a per-file stats entry). Target ~one file per
    * [[TableStore.targetFileBytes]] of input, floor 1; coalesce is a
    * narrow dependency — no shuffle, maintenance stays O(bytes read). */
  private def binPacked(df: DataFrame, gens: Seq[Gen]): DataFrame = {
    val bytes = gens.map { g =>
      try fs(g._3).getContentSummary(g._3).getLength
      catch { case scala.util.control.NonFatal(_) => 0L }
    }.sum
    df.coalesce(math.max(1L, bytes / TableStore.targetFileBytes).toInt)
  }

  /** Delete superseded generations (below the newest full generation,
    * or covered by a fold) once their superseder is past the grace
    * period, plus aged strays no reader can see. Safe to run any time:
    * nothing is reclaimed within `gcGraceMs` of being superseded, so
    * lazy DataFrames created before the supersession keep resolving. */
  def gc(table: String): Unit = {
    val gens = generations(table)
    val lastFull = gens.lastIndexWhere(g => isFullKind(g._2))
    val dir = tableDir(table)
    val f = fs(dir)
    // INCLUSIVE age test (mtime <= cutoff ⇒ age >= grace): gcGraceMs
    // is a MINIMUM age, so at zero grace a generation superseded in the
    // same millisecond as the sweep is reclaimed by it
    val cutoff = System.currentTimeMillis() - gcGraceMs
    // a generation's age is its POINTER's mtime — the commit instant
    // (the data dir was staged earlier)
    def mtimeOf(g: Gen): Long = f.getFileStatus(pointerPath(table, g._1)).getModificationTime
    // a pointer deleted since the listing (a racing gc) is not aged
    def aged(g: Gen): Boolean =
      try mtimeOf(g) <= cutoff
      catch { case _: java.io.FileNotFoundException => false }
    // Strays: (a) torn pointers a crashed writer left (created but
    // unparseable — cannot happen on a real conditional PUT, handled
    // for the filesystem emulation); (b) staged `_data-` dirs whose
    // writer died before claiming a slot. Both invisible to readers.
    val cd = commitsDir(table)
    // one state read per pointer, reused by both sweeps below
    val ptrStates: Seq[(org.apache.hadoop.fs.FileStatus, PointerRead)] =
      if (!f.exists(cd)) Seq.empty
      else f.listStatus(cd).toSeq.map { s =>
        // a non-pointer-shaped stray is provably not a commit marker —
        // same reclaim class as torn content
        (s, if (pointerSeq(s.getPath.getName).isEmpty) PointerTorn
            else readPointerState(f, s.getPath))
      }
    // reclaim only what is PROVABLY not a commit marker (torn /
    // non-pointer-shaped). An UNREADABLE pointer may be a committed one
    // behind an IO fault — deleting it would orphan acknowledged rows —
    // so it is left alone no matter how old.
    val debris = debrisBefore
    ptrStates.foreach { case (s, st) =>
      if (st == PointerTorn && s.getModificationTime <= debris)
        deletePointerQuietly(f, s.getPath)
    }
    // An unreadable pointer may hide a committed generation `gens`
    // doesn't show; it gates the orphan sweep and both supersede sweeps.
    val anyUnreadable = ptrStates.exists(_._2 == PointerUnreadable)
    // The orphan `_data-` sweep: an unreadable pointer hides which data
    // dir it references, so `referenced` would miss an entry and a
    // committed generation's data would read as an orphan stage —
    // reclaiming it is silent row loss. Skipping the sweep is always
    // safe (strays just live longer). The listing is taken afresh, so a
    // generation published since `gens` was read keeps its data.
    if (!anyUnreadable) {
      val referenced = generations(table).map(_._3.getName).toSet
      if (f.exists(dir)) f.listStatus(dir)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_data-"))
        .foreach { s =>
          if (!referenced(s.getPath.getName) && s.getModificationTime <= debris)
            try f.delete(s.getPath, true)
            catch { case _: java.io.FileNotFoundException => () }
        }
    }
    // a concurrent gc/compact may delete a generation between our
    // listing and the stat — already-gone is success, not failure. The
    // pointer goes FIRST (readers listing after never resolve the
    // generation), then the data.
    def rm(g: Gen): Unit =
      try {
        if (mtimeOf(g) <= cutoff) {
          deletePointerQuietly(f, pointerPath(table, g._1))
          f.delete(g._3, true)
        }
      } catch { case _: java.io.FileNotFoundException => () }
    // full-superseded originals: like the fold-covered ones below,
    // reclaimable only once the SUPERSEDING full generation has itself
    // aged past the grace period — the full's commit is the moment
    // they became superseded, and a reader that listed just before it
    // must still resolve them. Their own mtimes are arbitrarily old on
    // any long-lived table, so they cannot be the clock.
    // Both supersede sweeps skip while any pointer is unreadable: with
    // a hidden committed generation possibly interleaved in the chain,
    // "superseded by the full/fold" cannot be trusted — the superseding
    // snapshot may have been built without the hidden rows (compact and
    // foldDeltas refuse in that state, but a generation committed just
    // before the fault must not trigger reclamation around the hidden
    // slot). Skipping a sweep is always safe.
    if (lastFull > 0 && !anyUnreadable && aged(gens(lastFull)))
      gens.take(lastFull).foreach(rm)
    // fold-covered originals: reclaimable once the FOLD has aged past
    // the grace period (the fold's commit is when they became
    // superseded — their own mtime is arbitrarily old, and a reader
    // that listed just before the fold must still resolve). Until
    // then they also keep serving mid-covered-range change-feed
    // checkpoints and time travel exactly.
    val folds = if (anyUnreadable) Seq.empty else gens.flatMap(g =>
      TableStore.foldStart(g._2).map(c => (c, g)))
    folds.foreach { case (c, fg) =>
      if (aged(fg)) gens.filter(g => g._1 >= c && g._1 < fg._1).foreach(rm)
    }
  }

  /** Stage `df` into a fresh `_data-` dir, then publish it by claiming
    * a generation slot with a create-exclusive pointer write. With
    * `expectedSeq` set (snapshot writers), ONLY that slot is
    * acceptable: returns false — staged data discarded, nothing
    * committed — if another writer claimed it first. Without it
    * (append/overwrite), retries the next free slot until it wins. */
  private def commit(table: String, df: DataFrame, kind: String,
                     expectedSeq: Option[Long],
                     replaces: Map[String, Set[String]] = Map.empty): Boolean = {
    val dir = tableDir(table)
    val f = fs(dir)
    f.mkdirs(dir)
    // the staged dir is writer-unique (a shared name would let two
    // concurrent writers clobber each other's files mid-write) and is
    // already its FINAL name: publishing never moves it
    val staged = new Path(dir, "_data-" + java.util.UUID.randomUUID().toString)
    val partitionBy = layout(table)
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(staged.toString)
    // schema, tombstone list, zone map and Bloom sidecar land INSIDE
    // the staged dir, so one pointer publishes them with the data (the
    // "_"-prefixed names are invisible to parquet directory reads). The
    // schema and the tombstones are written DIRECTLY (no best-effort
    // swallow): a generation whose schema or replaces cannot be
    // recorded must not commit at all
    writeText(staged, TableStore.schemaFile, df.schema.json)
    if (replaces.nonEmpty)
      writeText(staged, TableStore.replacesFile, TableStore.serializeReplaces(replaces))
    writeStats(table, staged, df.schema, f)
    var attempts = 0
    // Slot-skip floor. A young torn/unreadable pointer at the natural
    // next slot is NEVER deleted inline: it may be a rival mid-write
    // between create and close (the advertised HDFS/local targets
    // tear exactly there), or a complete pointer behind a transient
    // read fault — deleting either orphans acknowledged rows that gc
    // later reclaims, i.e. silent loss. Appends and overwrites instead
    // claim the slot AFTER it: seq order alone carries the
    // semantics (deltas commute; a later full/comp supersedes), so a
    // hole in the seq line is benign, and gc reclaims the torn
    // debris once aged. Only a torn pointer that is debris — the exact
    // condition gc itself uses ([[debrisBefore]]) — is reclaimed in place.
    var seqFloor = 0L
    var won = false
    while (!won) {
      attempts += 1
      val next = math.max(seqFloor,
        generations(table).lastOption.map(_._1 + 1).getOrElse(0L))
      if (expectedSeq.exists(_ != next)) {
        f.delete(staged, true)
        return false
      }
      val ptr = pointerPath(table, next)
      f.mkdirs(ptr.getParent)
      // Did OUR pointer land complete at this path? Decides every
      // ambiguous failure below: a complete own pointer IS the
      // commit (retrying would double-publish the same data dir
      // under a second seq — duplicate rows now, silent row loss
      // when gc reclaims one of them); anything else must leave the
      // name free (or torn-and-reclaimable) before we retry, or the
      // table wedges on our own debris.
      def pointerIsMine: Boolean =
        readPointerState(f, ptr) == PointerOk(kind, staged.getName)
      // Lost the name to an EXISTING pointer that is not ours.
      // Resolve by state: a complete rival is a plain lost race
      // (recomputed `next` steps past it); torn debris is reclaimed
      // exactly as gc would; anything younger or unreadable is left
      // untouched and the slot is stepped over via the floor.
      def stepPastBlockedSlot(): Unit =
        readPointerState(f, ptr) match {
          case PointerOk(_, _) => ()
          case PointerGone     => () // vanished (raced gc): slot is free again
          case PointerTorn if isDebris(f, ptr) =>
            deletePointerQuietly(f, ptr)
          case _ => seqFloor = next + 1
        }
      won =
        try {
          // create-exclusive IS the slot lock: exactly one writer can
          // create this name, so same-seq ties cannot exist. On a
          // real object store the whole pointer is ONE conditional
          // PUT (cannot tear); the branches below exist for the
          // filesystem emulation, where create/write/close are
          // separate steps that can fail independently.
          val out = f.create(ptr, false)
          try {
            out.write(s"$kind\n${staged.getName}".getBytes("UTF-8"))
            out.close()
            true
          } catch {
            case e: java.io.IOException =>
              // we own the name but the content may be absent, torn,
              // or fully flushed (close() failing after flush)
              readPointerState(f, ptr) match {
                case PointerOk(_, d) if d == staged.getName => true
                case PointerTorn | PointerGone =>
                  // our own torn write — the name is ours to reclaim
                  deletePointerQuietly(f, ptr)
                  if (pointerIsMine) true
                  else { f.delete(staged, true); throw e }
                case _ =>
                  // read-back failed: the pointer may be COMPLETE
                  // (write flushed before close failed). Deleting ptr
                  // or staged here could destroy a committed generation;
                  // leave both and report the ambiguity — gc reclaims
                  // the debris iff the pointer is genuinely torn.
                  throw e
              }
          }
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            // the name exists: a rival's complete pointer (lost the
            // race), a rival mid-write, or a crashed writer's torn
            // debris — stepPastBlockedSlot keeps progress without
            // ever deleting a pointer that might be (or become) a
            // live commit marker
            if (pointerIsMine) true
            else { stepPastBlockedSlot(); false }
          case e: java.io.IOException =>
            // ambiguous create failure: some filesystems signal an
            // existing file this way instead of FileAlreadyExists
            if (pointerIsMine) true
            else if (f.exists(ptr)) { stepPastBlockedSlot(); false }
            else { f.delete(staged, true); throw e }
        }
      if (!won && expectedSeq.isDefined) {
        // the expected slot went to someone else — abandon, caller
        // re-snapshots
        f.delete(staged, true)
        return false
      }
      if (!won && attempts >= 20) {
        f.delete(staged, true)
        throw new IllegalStateException(
          s"pointer commit failed after $attempts tries: $ptr")
      }
    }
    // superseded generations are GC'd lazily (grace period) — deleting
    // them here would break concurrent readers holding their file paths
    if (isFullKind(kind)) gc(table)
    true
  }
}

object TableStore extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  /** Thrown by [[TableStore.readAt]] when the requested point in history
    * existed but no generation at or below it survives gc — the
    * time-travel analogue of querying a vacuumed Delta/Iceberg version. */
  class VacuumedHistoryException(msg: String) extends IllegalStateException(msg)

  /** Thrown by [[TableStore.readChangesSince]] when an overwrite landed
    * after the reader's checkpoint — the change stream cannot express a
    * table replacement, so the consumer must re-bootstrap from read(). */
  class FullRefreshRequiredException(msg: String) extends IllegalStateException(msg)

  /** The tables whose 100 TB layout partitions by dataset — a property
    * of the table so every writer (and compaction) preserves it. */
  val defaultPartitioning: Map[String, Seq[String]] = Map(
    "processing_assets" -> Seq("dataset_id"),
    "validation_results" -> Seq("dataset_id"),
    "import_reports" -> Seq("dataset_id"))

  /** The engine's out-of-the-box point-lookup sidecars: execution-status
    * gets probe a ULID on an append-only table whose ids interleave
    * across every delta — the exact shape zone maps cannot skip
    * (ImportStatus.get is the reference's GET /import-status hot path,
    * backend/import_status/get.py). */
  val defaultBloomColumns: Map[String, Seq[String]] = Map(
    "import_executions" -> Seq("execution_id"),
    // the persistent-index epoch-table families (`*suffix` wildcards —
    // the epoch number makes exact names unknowable in advance):
    // cluster-label point reads probe doc_id on an append-mostly delta
    // chain whose ids interleave across every file (NearDupIndex
    // .clusterOf); IVF searches probe `cell IN (...)` on the assignment
    // and code tables, where per-file membership — not the loose
    // [min,max] an IN collapses to — is what skips unprobed cells'
    // files (VectorIndex.search)
    "*_clusters" -> Seq("doc_id"),
    "*_assign" -> Seq("cell"),
    "*_codes" -> Seq("cell"))

  /** Maintenance rewrites aim for one output file per this many input
    * bytes — the usual lake file-sizing target. */
  private[gdl] val targetFileBytes: Long = 128L << 20

  /** The longest a live writer may take from staging to its pointer. */
  private val stagingMs: Long = 10L * 60 * 1000

  private[gdl] val zoneMapFile = "_zonemap.tsv"
  private[gdl] val bloomFile = "_bloom.tsv"
  private[gdl] val replacesFile = "_replaces.tsv"
  private[gdl] val schemaFile = "_schema.json"

  /** The four observable states of a pointer file. The distinction that
    * matters for safety: [[PointerTorn]] (content read fine but is
    * malformed — a crashed writer's torn write on a filesystem where
    * create, write and close are separate steps) is the
    * ONLY reclaimable state, and only once it is debris.
    * [[PointerUnreadable]] (the read itself failed after retries)
    * proves nothing — the pointer may be a fully COMMITTED rival whose
    * deletion would orphan acknowledged rows for gc to silently
    * reclaim — so it is never deleted, by anyone. */
  private sealed trait PointerRead
  private final case class PointerOk(kind: String, dataDir: String)
      extends PointerRead
  private case object PointerTorn extends PointerRead
  private case object PointerGone extends PointerRead
  private case object PointerUnreadable extends PointerRead

  /** Generation kind written by [[TableStore.merge]]/[[TableStore.deleteWhere]]:
    * carries rewritten rows + a tombstone list hiding the originals. */
  private[gdl] val mergeKind = "merge"

  /** A committed generation: (seq, kind, data dir). */
  private[gdl] type Gen = (Long, String, Path)

  /** One generation's part in a predicate read: the live files its
    * sidecars cannot exclude (None = no stats: read the whole
    * generation) and how many live files the sidecars list. */
  private final case class GenPlan(gen: Gen, kept: Option[Set[String]], listed: Int)

  /** A fold generation's kind is `fold<coveredFromSeq>`: the generation
    * at slot S carries EXACTLY the rows of the delta generations
    * [coveredFrom, S-1] — a minor compaction. Returns the covered-from
    * seq, or None for every other kind. */
  private[gdl] def foldStart(kind: String): Option[Long] =
    if (kind.startsWith("fold") && kind.length > 4 &&
        kind.drop(4).forall(_.isDigit)) Some(kind.drop(4).toLong)
    else None

  /** Drop the generations a fold in `gens` supersedes (seq in
    * [coveredFrom, foldSeq) of any fold present); the folds themselves
    * stay. What a CURRENT reader should union — historical readers use
    * [[coverSlots]], which can still prefer surviving originals. */
  private[gdl] def dropFoldCovered(gens: Seq[Gen]): Seq[Gen] = {
    val covered = gens.flatMap(g => foldStart(g._2).map(c => (c, g._1)))
    if (covered.isEmpty) gens
    else gens.filter(g =>
      !covered.exists { case (c, s) => g._1 >= c && g._1 < s })
  }

  /** Choose, from the on-disk listing `all` (ascending seq), the
    * generations that exactly carry the data of slots [from, to]
    * (inclusive): at each slot either a fold STARTING there (preferred —
    * self-contained, longest first) or the original generation. Each
    * element is (gen, carriesData): a fold chosen at its start carries
    * its covered rows; a generation reached as its own slot carries
    * data unless it is a comp (no data change) or a fold whose covered
    * range lies BELOW `from` (re-delivering rows the caller already
    * has). Left(slot) = neither the original nor a usable fold
    * survives — that history is gone. */
  private[gdl] def coverSlots(all: Seq[Gen], from: Long,
                              to: Long): Either[Long, Seq[(Gen, Boolean)]] = {
    val bySeq = all.map(g => g._1 -> g).toMap
    val foldsByStart = all
      .filter(g => foldStart(g._2).isDefined)
      .groupBy(g => foldStart(g._2).get)
    val out = Seq.newBuilder[(Gen, Boolean)]
    var next = from
    while (next <= to) {
      foldsByStart.getOrElse(next, Nil).filter(_._1 <= to)
          .sortBy(-_._1).headOption match {
        case Some(f) => out += ((f, true)); next = f._1 + 1
        case None => bySeq.get(next) match {
          case Some(g) =>
            out += ((g, g._2 != "comp" && foldStart(g._2).isEmpty))
            next += 1
          case None => return Left(next)
        }
      }
    }
    Right(out.result())
  }

  private[gdl] def serializeReplaces(m: Map[String, Set[String]]): String =
    m.toSeq.sortBy(_._1).flatMap { case (gen, files) =>
      files.toSeq.sorted.map(fl => s"${enc(gen)}\t${enc(fl)}")
    }.mkString("", "\n", "\n")

  private[gdl] def parseReplaces(txt: String): Map[String, Set[String]] =
    txt.split("\n").filter(_.nonEmpty).map { line =>
      line.split("\t", -1) match {
        case Array(gen, fl) => (dec(gen), dec(fl))
        case _ => throw new IllegalStateException(
          s"corrupt tombstone line: '$line'") // correctness: never skip
      }
    }.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSet }

  /** Map absolute part-file paths (from `input_file_name()`) back to
    * (generation-dir-name → relative files). Generation dir names are
    * unique within a table (g%07d-kind), so a path-segment match is
    * exact; a file outside every passed generation is a protocol bug —
    * fail loudly rather than tombstone the wrong file. */
  private[gdl] def groupByGeneration(gens: Seq[Gen],
                                     absFiles: Seq[String]): Map[String, Set[String]] =
    absFiles.map { p =>
      val up = new Path(p).toUri.getPath
      val g = gens.find(g => up.contains("/" + g._3.getName + "/"))
        .getOrElse(throw new IllegalStateException(
          s"file '$p' belongs to no live generation"))
      g._3.getName -> relativize(g._3.toString, p)
    }.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSet }

  /** Probe count k, FROZEN like the hash seeds: stored sidecars outlive
    * code. 5 probes ≈ the optimum for ~7 bits/key, and FPP degrades
    * gracefully either side of that load. */
  private[gdl] val bloomHashes = 5

  /** One (file, column) sketch: bits/hashes are read from the sidecar
    * line, not assumed — a store reconfigured to a wider bitset keeps
    * probing old generations' sketches correctly. */
  private[gdl] final case class Bloom(bits: Int, hashes: Int,
                                      bs: java.util.BitSet)

  /** Generation-relative path of an absolute part-file URI — keeps
    * `col=value/` partition dirs, mirrors [[computeStats]]' keys. */
  private[gdl] def relativize(genRoot: String, file: String): String = {
    val rootUri = new Path(genRoot).toUri.getPath
    val p = new Path(file).toUri.getPath
    val i = p.indexOf(rootUri)
    if (i >= 0) p.substring(i + rootUri.length).stripPrefix("/") else p
  }

  private[gdl] def parseBloom(txt: String): Map[String, Map[String, Bloom]] =
    txt.split("\n").filter(_.nonEmpty).flatMap { line =>
      line.split("\t", -1) match {
        case Array(file, name, bits, hashes, b64)
            if bits.nonEmpty && bits.forall(_.isDigit) &&
              hashes.nonEmpty && hashes.forall(_.isDigit) =>
          try Some((dec(file), dec(name), Bloom(bits.toInt, hashes.toInt,
            java.util.BitSet.valueOf(java.util.Base64.getDecoder.decode(b64)))))
          catch { case scala.util.control.NonFatal(_) => None }
        case _ => None // malformed line: no sketch, must-read
      }
    }.groupBy(_._1).map { case (f, xs) =>
      f -> xs.map(x => (x._2, x._3)).toMap
    }

  /** Which of a generation's files survive BOTH prunes — zone ranges
    * and Bloom point probes: None = no stats of either kind (read the
    * whole generation); Some(files) = exactly these (empty = skip it
    * all). The file universe comes from whichever sidecar exists (each
    * lists every data-bearing file); a file absent from both carried no
    * rows, so dropping it is exact. A (file, column) with no Bloom
    * sketch — unconfigured column, older writer — never skips: the
    * sidecar is opt-in per column, unlike the zone map where an absent
    * column PROVABLY had no data. */
  private[gdl] def prunedFiles(zones: Option[Map[String, Map[String, Zone]]],
                               bounds: Seq[(String, Option[Any], Option[Any])],
                               blooms: Option[Map[String, Map[String, Bloom]]],
                               eqs: Seq[(String, Seq[String])])
      : Option[Set[String]] = {
    if (zones.isEmpty && blooms.isEmpty) return None
    val files = zones.map(_.keySet).getOrElse(blooms.get.keySet)
    Some(files.filter { file =>
      val zoneOk = bounds.forall { case (c, lo, hi) =>
        zoneOverlaps(zones.map(_(file)), c, lo, hi) }
      val bloomOk = eqs.forall { case (c, values) =>
        blooms.flatMap(_.get(file)).flatMap(_.get(c)) match {
          case None => true // no sketch for this (file, column): must read
          case Some(b) => values.exists(v =>
            graft.gdl.expr.BloomSidecar.mightContain(b.bs, v, b.bits, b.hashes))
        }
      }
      zoneOk && bloomOk
    })
  }

  /** One column's zone: kind ∈ i (integral, min/max as longs),
    * f (fractional, as doubles), s (string, URL-encoded UTF-8),
    * x (type unsupported for skipping — always read),
    * n (present but ALL null — a range predicate can never match). */
  private[gdl] final case class Zone(kind: String, min: String, max: String)

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** The fused stats pass: zone TSV, Bloom TSV (if `bloomCols`) and the
    * files holding rows, from ONE `groupBy(input_file_name())` — min/max
    * and sketch aggregates ride the same shuffle-free aggregation
    * (mixed declarative + object-buffer aggregates run under
    * ObjectHashAggregate).
    *
    * The zone map is PER PART FILE: one line per (file, schema column) —
    * every schema column appears (a column missing entirely from a
    * file's lines means it was absent from that file's data, which is
    * what lets readers skip on absent-column semantics). File keys are
    * generation-relative paths (so `col=value/part-...` keeps its
    * partition dirs). Per-file granularity is what makes CLUSTERED
    * layouts pay: after [[TableStore.rewriteClustered]] each file covers
    * a tight key range, and a probe reads O(matching files) of the
    * generation. */
  private[gdl] def computeStats(df: DataFrame, genRoot: String,
                                bloomCols: Seq[String], bloomBits: Int,
                                bloomHashes: Int): (String, Option[String], Set[String]) = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    import org.apache.spark.sql.types._
    val fields = df.schema.fields
    val eligible = fields.filter(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case FloatType | DoubleType => true
      case StringType => true
      case _ => false
    })
    val zoneAggs = eligible.flatMap(f =>
      Seq(fmin(col(f.name)).as(s"mn_${f.name}"),
        fmax(col(f.name)).as(s"mx_${f.name}")))
    val bridge = org.apache.spark.sql.GraftExpressionBridge
    val bloomAggs = bloomCols.map { c =>
      bridge.column(graft.gdl.expr.BloomBuildAgg(
        bridge.expression(col(c).cast("string")),
        bloomBits, bloomHashes).toAggregateExpression()).as(s"bf_$c")
    }
    // per-file row count rides the same pass: it sizes each file's
    // Bloom width (appended LAST so the bloom columns' index math —
    // base + i — is untouched)
    val aggs = zoneAggs ++ bloomAggs ++
      (if (bloomCols.isEmpty) Nil
       else Seq(org.apache.spark.sql.functions.count(lit(1)).as("_rows")))
    val perFile: Seq[(String, org.apache.spark.sql.Row)] =
      if (aggs.isEmpty)
        df.select(input_file_name().as("_f")).distinct()
          .collect().map(r => (r.getString(0), null)).toSeq
      else
        df.groupBy(input_file_name().as("_f")).agg(aggs.head, aggs.tail.toIndexedSeq: _*)
          .collect().map(r => (r.getString(0), r)).toSeq
    def rel(file: String): String = relativize(genRoot, file)
    val zoneTxt = perFile.flatMap { case (file, row) =>
      val zoneOf = eligible.zipWithIndex.flatMap { case (f, i) =>
        val (mn, mx) =
          if (row == null) (null, null) else (row.get(2 * i + 1), row.get(2 * i + 2))
        val z =
          if (mn == null) Zone("n", "", "")
          else f.dataType match {
            case ByteType | ShortType | IntegerType | LongType =>
              Zone("i", mn.toString, mx.toString)
            case FloatType | DoubleType =>
              Zone("f", mn.toString, mx.toString)
            case StringType =>
              Zone("s", enc(mn.asInstanceOf[String]), enc(mx.asInstanceOf[String]))
            case _ => Zone("x", "", "")
          }
        Some(f.name -> z)
      }.toMap
      fields.map { f =>
        val z = zoneOf.getOrElse(f.name, Zone("x", "", ""))
        s"${enc(rel(file))}\t${enc(f.name)}\t${z.kind}\t${z.min}\t${z.max}"
      }
    }.mkString("", "\n", "\n")
    val bloomTxt =
      if (bloomCols.isEmpty) None
      else {
        val b64 = java.util.Base64.getEncoder
        val base = 1 + 2 * eligible.length
        Some(perFile.flatMap { case (file, row) =>
          val rows = row.getLong(base + bloomCols.length)
          bloomCols.zipWithIndex.map { case (c, i) =>
            val full = row.getAs[Array[Byte]](base + i)
            val (bits, bytes) = shrinkBloom(full, bloomBits, rows)
            s"${enc(rel(file))}\t${enc(c)}\t$bits\t$bloomHashes\t" +
              b64.encodeToString(bytes)
          }
        }.mkString("", "\n", "\n"))
      }
    (zoneTxt, bloomTxt, perFile.map(p => rel(p._1)).toSet)
  }

  /** Commit-time Bloom BUILD width: smallest power of 2 holding ~10
    * bits/row for the whole commit (floor 2^13, cap `cap`). The commit
    * total bounds every file's rows, so the worst file keeps ~1% FPP;
    * [[shrinkBloom]] then folds each file's sidecar to its OWN count.
    * A non-power-of-2 cap disables the sizing (and the fold) — the
    * mod-compatibility proof needs divisibility. */
  private[gdl] def bloomWidthFor(totalRows: Long, cap: Int): Int = {
    if (Integer.bitCount(cap) != 1) return cap
    var w = 1 << 13
    while (w < cap && w < 10L * math.max(totalRows, 1L)) w <<= 1
    w.min(cap)
  }

  /** Right-size a file's sketch to its row count: OR-fold the power-of-2
    * bitset down to the smallest power of 2 holding ~10 bits/row (floor
    * 1024). Folding is EXACT for power-of-2 widths — `h mod w` equals
    * `(h mod W) mod w` whenever w divides W — so the folded sketch is
    * bit-identical to one built at the smaller width: same membership,
    * no false negatives, FPP as if sized correctly up front. The width
    * is written per sidecar line (probes already read it), so a 100-row
    * file costs ~1 KiB of sidecar instead of the full configured width
    * — without this, a small-file generation's sidecar dwarfs its data
    * (measured: a 100-row delta carried 350 KiB of sketches for ~4 KiB
    * of parquet). A non-power-of-2 configured width disables shrinking
    * (the mod-compatibility proof needs divisibility). */
  private[gdl] def shrinkBloom(bytes: Array[Byte], fullBits: Int,
                               rows: Long): (Int, Array[Byte]) = {
    if (Integer.bitCount(fullBits) != 1) return (fullBits, bytes)
    var want = 1024
    while (want < fullBits && want < 10L * math.max(rows, 1L)) want <<= 1
    if (want >= fullBits) return (fullBits, bytes)
    val outBytes = want / 8
    val out = new Array[Byte](outBytes)
    var i = 0
    while (i < bytes.length) {
      out(i % outBytes) = (out(i % outBytes) | bytes(i)).toByte
      i += 1
    }
    // drop trailing zero bytes like BitSet.toByteArray does (absent
    // bits read as 0 on the probe side)
    var last = out.length - 1
    while (last >= 0 && out(last) == 0) last -= 1
    (want, out.take(last + 1))
  }

  private[gdl] def parseZoneMap(txt: String): Map[String, Map[String, Zone]] =
    txt.split("\n").filter(_.nonEmpty).flatMap { line =>
      line.split("\t", -1) match {
        case Array(file, name, kind, mn, mx) =>
          Some((dec(file), dec(name), Zone(kind, mn, mx)))
        case _ => None
      }
    }.groupBy(_._1).map { case (f, xs) =>
      f -> xs.map(x => (x._2, x._3)).toMap
    }

  /** Can generation `zones` contain a row with `lo ≤ column ≤ hi`
    * (either bound may be absent = unbounded)? Every uncertain case
    * answers true (must read); only a proven-disjoint zone answers
    * false. Numeric compare is exact BigDecimal (no double rounding on
    * long bounds); string compare is UTF-8 byte order, matching
    * Spark/parquet binary string ordering. */
  private[gdl] def zoneOverlaps(zones: Option[Map[String, Zone]],
                                column: String, lo: Option[Any],
                                hi: Option[Any]): Boolean =
    zones match {
      case None => true // no stats: must read
      case Some(m) => m.get(column) match {
        case None =>
          // exact-name miss: if a key differs only by case, this
          // generation was written under another casing (legal when
          // spark.sql.caseSensitive=false unions them) — must read;
          // using the other-case zone would be wrong under
          // caseSensitive=true where they are DIFFERENT columns.
          // No case-insensitive hit either → truly absent → skip.
          m.keys.exists(_.equalsIgnoreCase(column))
        case Some(Zone("n", _, _)) => false // present but all null
        case Some(Zone("x", _, _)) => true // unsupported type: must read
        case Some(Zone("i" | "f", mn, mx)) =>
          // NaN/Infinity zone bounds don't parse → must-read; a
          // non-numeric predicate bound on a numeric zone prunes nothing
          try {
            val loOk = lo.flatMap(toDec).forall(l =>
              new java.math.BigDecimal(mx).compareTo(l) >= 0)
            val hiOk = hi.flatMap(toDec).forall(h =>
              new java.math.BigDecimal(mn).compareTo(h) <= 0)
            loOk && hiOk
          } catch { case _: NumberFormatException => true }
        case Some(Zone("s", mn, mx)) =>
          // a corrupted escape in a stored bound must degrade to
          // must-read, never crash the scan or skip wrongly
          try (lo.forall { case l: String => utf8Cmp(dec(mx), l) >= 0
                           case _ => true }) &&
            (hi.forall { case h: String => utf8Cmp(dec(mn), h) <= 0
                         case _ => true })
          catch { case _: IllegalArgumentException => true }
        case _ => true // unknown kind from a future writer: must read
      }
    }

  private def toDec(v: Any): Option[java.math.BigDecimal] = v match {
    case n: java.lang.Number => Some(new java.math.BigDecimal(n.toString))
    case _ => None
  }

  // bare attribute only — NEVER unwrap a cast on the column side
  // (cast(col as narrower) is not range-monotonic, skipping on the
  // cast-space bound could drop matching rows)
  private def exprName(x: Expression): Option[String] = x match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(a.name)
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      Some(a.name)
    case _ => None
  }

  // literal side: anything foldable (the analyzer wraps literals in
  // widening casts; eval() folds them); a null bound gives no pruning
  private def exprValue(x: Expression): Option[Any] =
    if (!x.foldable) None
    else x.eval() match {
      case null => None
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case other => Some(other)
    }

  /** The conjuncts of `e`, each comparison with an attribute on the
    * right turned around (`lit < col` becomes `col > lit`), so the
    * extractors below match the attribute on the left only. */
  private def attrFirstConjuncts(e: Expression): Seq[Expression] = {
    import org.apache.spark.sql.catalyst.expressions._
    splitConjunctivePredicates(e).map {
      case c: BinaryComparison if exprName(c.right).isDefined &&
          exprName(c.left).isEmpty => c match {
        case EqualTo(l, a) => EqualTo(a, l)
        case EqualNullSafe(l, a) => EqualNullSafe(a, l)
        case LessThan(l, a) => GreaterThan(a, l)
        case LessThanOrEqual(l, a) => GreaterThanOrEqual(a, l)
        case GreaterThan(l, a) => LessThan(a, l)
        case GreaterThanOrEqual(l, a) => LessThanOrEqual(a, l)
        case other => other
      }
      case other => other
    }
  }

  /** The per-column inclusive range conjuncts a predicate implies, for
    * zone pruning: (column, lo?, hi?) — one entry per comparison
    * conjunct (a column constrained twice yields two entries; pruning
    * requires the zone to overlap ALL of them). Anything that is not a
    * top-level AND of column-vs-literal comparisons contributes
    * nothing: OR, expressions over the column, casts, and UDF-ish
    * conjuncts are simply not used to skip. Strict inequalities relax
    * to inclusive — conservative in the safe direction. */
  private[gdl] def predicateBounds(e: Expression)
      : Seq[(String, Option[Any], Option[Any])] = {
    import org.apache.spark.sql.catalyst.expressions._
    def bound(a: Expression, l: Expression, lo: Boolean, hi: Boolean) =
      for (n <- exprName(a); v <- exprValue(l))
        yield (n, if (lo) Some(v) else None, if (hi) Some(v) else None)
    attrFirstConjuncts(e).flatMap {
      case EqualTo(a, l) => bound(a, l, lo = true, hi = true)
      case GreaterThan(a, l) => bound(a, l, lo = true, hi = false)
      case GreaterThanOrEqual(a, l) => bound(a, l, lo = true, hi = false)
      case LessThan(a, l) => bound(a, l, lo = false, hi = true)
      case LessThanOrEqual(a, l) => bound(a, l, lo = false, hi = true)
      case In(a, vs) if exprName(a).isDefined && vs.nonEmpty &&
          vs.forall(v => exprValue(v).isDefined) =>
        val lits = vs.map(v => exprValue(v).get)
        if (lits.forall(_.isInstanceOf[java.lang.Number])) {
          val decs = lits.map(v => new java.math.BigDecimal(v.toString))
          Some((exprName(a).get, Some(decs.min), Some(decs.max)))
        } else if (lits.forall(_.isInstanceOf[String])) {
          val ord = Ordering.comparatorToOrdering(
            (x: String, y: String) => utf8Cmp(x, y))
          val ss = lits.map(_.asInstanceOf[String])
          Some((exprName(a).get, Some(ss.min(ord)), Some(ss.max(ord))))
        } else None
      case _ => None // no pruning information from this conjunct
    }
  }

  /** The per-column equality candidate sets a predicate implies, in the
    * Bloom sidecar's canonical string form: (column, values) — a file
    * is readable only if, for EVERY entry, at least one candidate might
    * be in the file's sketch. Only conjuncts over Bloom-ELIGIBLE
    * attribute types participate (string/integral — where
    * `cast(col as string)` of the stored value equals the literal's
    * canonical form); everything else — fractional equality, OR,
    * expressions over the column, non-literal sides — contributes
    * nothing and prunes nothing. */
  private[gdl] def predicateEqualities(e: Expression): Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.catalyst.expressions._
    // the attribute side must be RESOLVED (analyzed plan) so its type is
    // known to be canonical-string-safe; an unresolved attribute has no
    // trustworthy type — contribute nothing
    def eligName(x: Expression): Option[String] = x match {
      case a: AttributeReference
          if graft.gdl.expr.BloomSidecar.eligibleType(a.dataType) =>
        Some(a.name)
      case _ => None
    }
    // canonical string form of an eval'd literal — must match what
    // BloomBuildAgg hashed, i.e. `cast(col as string)` of a stored value
    def canon(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case _: java.lang.Byte | _: java.lang.Short |
           _: java.lang.Integer | _: java.lang.Long => Some(v.toString)
      case _ => None
    }
    def lit(x: Expression): Option[String] = exprValue(x).flatMap(canon)
    attrFirstConjuncts(e).flatMap {
      case EqualTo(a, l) if eligName(a).isDefined && lit(l).isDefined =>
        Some((eligName(a).get, Seq(lit(l).get)))
      // null-safe equality to a NON-NULL literal is plain equality for
      // membership; `col <=> null` matches null rows, which never set
      // sketch bits — canon(null) never arises (exprValue drops nulls)
      case EqualNullSafe(a, l) if eligName(a).isDefined && lit(l).isDefined =>
        Some((eligName(a).get, Seq(lit(l).get)))
      case In(a, vs) if eligName(a).isDefined && vs.nonEmpty &&
          vs.forall(v => lit(v).isDefined) =>
        Some((eligName(a).get, vs.map(v => lit(v).get)))
      case _ => None // no membership information from this conjunct
    }
  }

  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
}
