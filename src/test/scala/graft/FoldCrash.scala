package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.Row

import graft.sources.TableStore
import graft.streaming.Maintain

/** The on-disk states a crash inside a streaming fold leaves behind, made
  * by hand on a store that folded batch `batchId` cleanly. A fold under
  * [[Maintain.once]] commits its marker after its last write, so every
  * crash leaves the marker at the batch before.
  */
object FoldCrash {

  /** Every write of `batchId` landed; only the marker of `table`'s fold
    * did not commit.
    */
  def beforeMarker(store: TableStore, table: String, batchId: Long): Unit =
    store.putMarker(Maintain.marker(table), batchId - 1)

  /** As [[beforeMarker]], and `table`'s own `__applied=<batchId>`
    * partition never landed either. Returns that partition's directory.
    */
  def beforePartition(store: TableStore, table: String, batchId: Long): Path = {
    beforeMarker(store, table, batchId)
    dropPartition(store, table, s"__applied=$batchId")
  }

  /** Removes the partition directory `partition` (e.g. `__batch=2`) of
    * `table`, a write that never landed. Returns the directory.
    */
  def dropPartition(store: TableStore, table: String, partition: String): Path = {
    val part = Paths.get(store.path(table), partition)
    if (Files.exists(part)) {
      val walk = Files.walk(part)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }
    part
  }

  /** Each named table's rows with their multiplicities: a recovered store
    * must equal the clean one, without a doubled row.
    */
  def tables(store: TableStore, names: String*): Map[String, Map[Row, Int]] =
    names.map(t => t -> store.read(t).collect().groupBy(identity).view
      .mapValues(_.length).toMap).toMap
}
