package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, col, lit, posexplode}
import org.apache.spark.sql.types._

object TopKPairs {

  /** Each key's `k` best rows: (key, `id`, `score`, `rank`), `rank` a
    * 1-based BIGINT. The one per-group top-k of the engine.
    *
    * Order: score descending, ties to the lower id, NaN greatest — the
    * order of `row_number() OVER (PARTITION BY key ORDER BY score DESC,
    * id) <= k`, row for row and rank for rank (the heap compares scores
    * as Spark's sort does: NaN above +Infinity, 0.0 equal to -0.0).
    *
    * Rows whose score OR id is null are EXCLUDED, the way `max`/`min`/
    * `sum` skip null inputs, where the window would rank a null score
    * last and still emit it when a key has fewer than k non-null rows;
    * coalesce the score to -Infinity to keep such rows. An ascending
    * ranking negates the score in and out.
    *
    * `score` must be a DOUBLE, `id` a BIGINT, and `key` one column not
    * named `t`, `pos` or `col`; the result keeps the key's name.
    *
    * Plan shape: one `topk_pairs` aggregate keeps a k-element heap per
    * key and partial-aggregates map-side, so only k rows per key per map
    * partition reach the shuffle, where the window form shuffles and
    * fully sorts every scored row. The heap's best-first array is
    * `posexplode`d, so the position is `rank - 1`.
    */
  def perGroup(df: DataFrame, key: Column, score: Column, id: Column,
      k: Int): DataFrame = {
    val top = df.groupBy(key)
      .agg(call_function("topk_pairs", score, id, lit(k)).as("t"))
    val keyCol = col(top.columns.head)
    top.select(keyCol, posexplode(col("t")))
      .select(keyCol, col("col.id").as("id"), col("col.score").as("score"),
        (col("pos") + 1).cast(LongType).as("rank"))
  }
}

/** Bounded-heap top-k aggregate: `topk_pairs(score, id, k)` returns the k
  * highest-scoring (score, id) pairs as an array of `struct<score, id>`,
  * best first, in the [[TopKPairs.perGroup]] order. Callers go through
  * [[TopKPairs.perGroup]], which states the contract.
  */
case class TopKPairs(
    score: Expression, id: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  // k must be a literal: it shapes the buffer, not the data
  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  /** Orders the WORST pair highest so the queue's dequeue evicts it:
    * worse = lower score, then larger id. Scores compare as Spark's sort
    * does: 0.0 and -0.0 are equal, and NaN is above +Infinity.
    */
  private val worstFirst: Ordering[(Double, Long)] =
    new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = if (a._1 == b._1) 0 else java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buf.enqueue((s.asInstanceOf[Double], i.asInstanceOf[Long]))
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { p =>
      buf.enqueue(p)
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val bestFirst = buf.clone().dequeueAll.reverse
    new GenericArrayData(bestFirst.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue((bb.getDouble, bb.getLong)))
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType &&
      kExpr.dataType == IntegerType && kExpr.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (double, bigint, literal int), got " +
        s"(${score.dataType.sql}, ${id.dataType.sql}, ${kExpr.dataType.sql})")

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id, kExpr)
  override def prettyName: String = "topk_pairs"

  override def withNewMutableAggBufferOffset(offset: Int): TopKPairs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKPairs =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}
