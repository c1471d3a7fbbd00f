package graft.gdl

import org.apache.hadoop.fs.Path

/** Read-only views of a [[TableStore]] that the benchmark reports but the
  * store keeps to its package. */
object StoreProbe {
  /** Generations a current reader of `table` unions: the store's
    * fold-cover rule applied to its history, from the newest full one
    * on (as `TableStore.liveGenerations`). */
  def liveGenerations(store: TableStore, table: String): Int = {
    val gens = TableStore.dropFoldCovered(
      store.history(table).map { case (seq, kind) => (seq, kind, null: Path) })
    val lastFull = gens.lastIndexWhere(g => g._2 == "full" || g._2 == "comp")
    gens.size - math.max(lastFull, 0)
  }
}
