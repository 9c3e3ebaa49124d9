// Same private[sql]-bridge rationale as CosineSimilarityExpr.
package org.apache.spark.sql.graftext

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.sql.types._

/** Bounded top-k-by-score aggregate: keeps the `k` best (score, id)
  * pairs per group, ordered (score DESC, id ASC).
  *
  * This is the per-group form of `ORDER BY score DESC LIMIT k` — the
  * shape batch multi-query search needs (top-k PER query_id). A window
  * `row_number() OVER (PARTITION BY query_id ORDER BY score DESC)`
  * computes the same thing but sorts each query's ENTIRE candidate set
  * in one task — at 100 TB a hot query matching 100M docs becomes a
  * single-task sort (the q85 scale-killer shape). This aggregate is
  * partial-aggregation friendly instead: every map task keeps at most
  * `k` entries per group and only those cross the shuffle; merge is a
  * k-bounded heap union. State is exact (not a sketch): top-k is
  * distributive, so the result is identical to the global sort's.
  *
  * Multiset semantics: the buffer keeps a COUNT per distinct
  * (score, id) pair, so an input where the same id recurs with an equal
  * score yields that pair repeated — exactly what `ORDER BY score DESC,
  * id ASC LIMIT k` returns (a plain set buffer would silently dedupe
  * and backfill with the next-best pair).
  *
  * Determinism: ties in score break by id ASC in both the buffer
  * eviction and the final output, so partial-aggregation topology
  * cannot change the result.
  *
  * Output: `array<struct<score double, id bigint>>` sorted
  * (score DESC, id ASC).
  */
case class TopKByScoreAgg(
    scoreChild: Expression,
    idChild: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKByScoreAgg.Buf]
    with ExpectsInputTypes {

  require(k >= 1, s"topk_by_score needs k >= 1, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, LongType)
  override def children: Seq[Expression] = Seq(scoreChild, idChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "topk_by_score"

  import TopKByScoreAgg.Buf

  // (score DESC, id ASC): firstKey() is the best, lastKey() the worst kept
  private def cmp = TopKByScoreAgg.Cmp

  override def createAggregationBuffer(): Buf = new Buf(cmp)

  private def offer(buf: Buf, score: Double, id: Long): Unit = {
    val key = (score, id)
    if (buf.n < k) {
      val prev = buf.m.get(key)
      buf.m.put(key, if (prev == null) 1 else prev + 1)
      buf.n += 1
    } else {
      val worst = buf.m.lastKey()
      if (cmp.compare(key, worst) < 0) {
        val wc = buf.m.get(worst)
        if (wc == 1) buf.m.remove(worst) else buf.m.put(worst, wc - 1)
        val prev = buf.m.get(key)
        buf.m.put(key, if (prev == null) 1 else prev + 1)
      }
    }
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val s = scoreChild.eval(input)
    val i = idChild.eval(input)
    if (s != null && i != null)
      offer(buf, s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    val it = other.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      var c = e.getValue.intValue()
      while (c > 0) { offer(buf, e.getKey._1, e.getKey._2); c -= 1 }
    }
    buf
  }

  override def eval(buf: Buf): Any = {
    val rows = new Array[Any](buf.n)
    val it = buf.m.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      var c = e.getValue.intValue()
      while (c > 0) {
        rows(i) = new GenericInternalRow(Array[Any](e.getKey._1, e.getKey._2))
        i += 1; c -= 1
      }
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.m.size * 20)
    bb.putInt(buf.m.size)
    val it = buf.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putDouble(e.getKey._1); bb.putLong(e.getKey._2)
      bb.putInt(e.getValue.intValue())
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buf(cmp)
    var i = 0
    while (i < n) {
      val key = (bb.getDouble, bb.getLong)
      val c = bb.getInt
      buf.m.put(key, c)
      buf.n += c
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScoreAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): TopKByScoreAgg =
    copy(scoreChild = cs(0), idChild = cs(1))
}

object TopKByScoreAgg {

  /** Count-per-pair buffer: `m` maps each kept (score, id) to its
    * multiplicity, `n` is the total kept count (sum of values, ≤ k). */
  final class Buf(cmp: java.util.Comparator[(Double, Long)]) {
    val m = new java.util.TreeMap[(Double, Long), Integer](cmp)
    var n: Int = 0
  }

  /** Serializable (score DESC, id ASC) comparator — the agg instance
    * ships to executors inside the physical plan. */
  object Cmp extends java.util.Comparator[(Double, Long)] with Serializable {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Column form: the `k` best (score, id) pairs, (score DESC, id ASC). */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    ExpressionUtils.column(
      TopKByScoreAgg(ExpressionUtils.expression(score),
        ExpressionUtils.expression(id), k).toAggregateExpression())

  /** The top `k` rows of `df` per `key` by (`score` DESC, doc_id ASC),
    * one row each: (key, doc_id, `scoreAs`, rank), rank a 1-based long. */
  def ranked(df: DataFrame, key: String, score: Column, k: Int,
      scoreAs: String): DataFrame =
    df.groupBy(key)
      .agg(topKByScore(score, col("doc_id"), k).as("top"))
      .select(col(key), posexplode(col("top")).as(Seq("rk", "t")))
      .select(col(key), col("t.id").as("doc_id"), col("t.score").as(scoreAs),
        (col("rk") + 1).cast("long").as("rank"))
}
