package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.TableStore

/** Streaming retrieval-index maintenance: fold a document stream into a
  * persisted INVERTED INDEX — a postings store (doc, token, tf) plus a
  * one-row-per-doc length store — that any multi-term BM25 query can
  * search without ever touching raw text again.
  *
  * The simplest fold of the maintainer family: postings are derived from
  * the value alone and doc ids are unique across batches, so the index
  * is append-only — no merge, no re-ranking, no candidate generation.
  * Each micro-batch tokenizes ONLY its own documents and lands exactly
  * two O(batch) partitions under [[Maintain.once]] — a replayed batch
  * replaces its own partitions, never doubles.
  *
  * The length store carries one row per ingested doc — null-text docs
  * land dl = 0 (they can never match a term, but they count in n_docs
  * and contribute nothing to total_toks, exactly as the one-shot's
  * corpus-statistics CTEs treat them). Search-time statistics (df per
  * term, n_docs, total_toks = Σ dl) aggregate from the stores: the
  * postings read prunes to the query's terms (predicate pushdown on the
  * token column), the length store is index-sized (1 row/doc), and the
  * scoring tail is the SAME Column expression the one-shot query uses,
  * so rankings replay hash-identically.
  *
  * Run from a stream with [[Maintain]] (its checkpoint keeps the batch
  * ids the marker checks durable).
  */
object StreamBm25 {

  /** The per-batch index fold, run from a stream with [[Maintain]]. */
  def applyBatch(store: TableStore, postTable: String, dlTable: String,
      idCol: String, textCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, dlTable, batchId) { _ =>
      val toks = batch
        .select(col(idCol).as("doc_id"),
          explode(split(col(textCol), " ")).as("tok"))
      val posts = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).cast(LongType).as("tf"))
      // one row per ingested doc, null text included (dl = 0): n_docs
      // and total_toks both derive from this store at search time
      val dl = batch.select(col(idCol).as("doc_id"),
        when(col(textCol).isNotNull,
          size(split(col(textCol), " ")).cast(LongType))
          .otherwise(lit(0L)).as("dl"))
      store.replacePartitions(postTable,
        posts.withColumn("__applied", lit(batchId)), "__applied")
      store.replacePartitions(dlTable,
        dl.withColumn("__applied", lit(batchId)), "__applied")
    }
  }

  /** The maintained index's statistics frames for a fixed term list —
    * (tf, dfRow, nRow, sRow) in the exact shapes the one-shot BM25
    * ranking tail consumes. Partitions a crashed fold landed before its
    * marker commit are excluded by the committed batch id.
    */
  def searchFrames(store: TableStore, postTable: String, dlTable: String,
      terms: Seq[String]): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val applied = Maintain.committed(store, dlTable)
    def committed(table: String) =
      store.read(table).filter(col("__applied") <= applied).drop("__applied")
    val posts = committed(postTable).filter(col("tok").isin(terms: _*))
    val dl = committed(dlTable)
    val tf = posts.groupBy(col("doc_id")).agg(
      coalesce(sum(when(col("tok") === terms.head, col("tf"))), lit(0L))
        .cast(LongType).as("tf1"),
      terms.tail.zipWithIndex.map { case (t, i) =>
        coalesce(sum(when(col("tok") === t, col("tf"))), lit(0L))
          .cast(LongType).as(s"tf${i + 2}")
      }: _*)
      .join(dl.select(col("doc_id"), col("dl")), Seq("doc_id"))
    val dfRow = posts.agg(
      countDistinct(when(col("tok") === terms.head, col("doc_id")))
        .cast(LongType).as("df1"),
      terms.tail.zipWithIndex.map { case (t, i) =>
        countDistinct(when(col("tok") === t, col("doc_id")))
          .cast(LongType).as(s"df${i + 2}")
      }: _*)
    val nRow = dl.agg(count(lit(1)).cast(LongType).as("n_docs"))
    val sRow = dl.agg(coalesce(sum(col("dl")), lit(0L))
      .cast(LongType).as("total_toks"))
    (tf, dfRow, nRow, sRow)
  }
}
