package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst AGGREGATE extension (the fourth extension tier next
  * to the scalar expressions in [[VectorExprs]], the generator surface,
  * and the [[graft.plans.TopKPerKey]] whole-operator plan): a
  * Misra–Gries heavy-hitters summary as a `TypedImperativeAggregate`.
  *
  * The buffer is a ≤ k-entry (item → count) map; update is the classic
  * decrement-on-overflow step, merge sums two summaries and re-prunes
  * by subtracting the (k+1)-th largest count — the mergeable-summaries
  * form (Agarwal et al., PODS'12), which preserves the deterministic
  * GUARANTEE under ANY merge order/tree: every item with true count
  * > n/(k+1) is present, and each estimate e satisfies
  * true − n/(k+1) ≤ e ≤ true. The raw map CONTENTS may vary with
  * partition merge order (like any parallel sketch), so scored queries
  * consume the summary only through the guarantee: exact heavy
  * hitters + contract booleans, never raw estimates (the
  * agg_approx_distinct / agg_countmin discipline).
  *
  * Scale: per-group state is O(k) regardless of input rows or distinct
  * items, partial aggregation runs map-side, and the merge is O(k) —
  * the shuffle carries k-entry summaries, not item counts.
  */
object SketchAggs {

  type MgMap = mutable.HashMap[UTF8String, Long]

  case class MisraGriesTopK(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[MgMap] {

    override def prettyName: String = "graft_misra_gries"
    override def dataType: DataType =
      MapType(StringType, LongType, valueContainsNull = false)
    override def nullable: Boolean = false
    override def children: Seq[Expression] = Seq(child)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
    override def withNewMutableAggBufferOffset(o: Int): MisraGriesTopK =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): MisraGriesTopK =
      copy(inputAggBufferOffset = o)

    override def createAggregationBuffer(): MgMap =
      mutable.HashMap.empty[UTF8String, Long]

    override def update(buf: MgMap, input: InternalRow): MgMap = {
      val v = child.eval(input)
      if (v != null) {
        val item = v.asInstanceOf[UTF8String]
        buf.get(item) match {
          case Some(c) => buf.update(item, c + 1)
          case None if buf.size < k => buf.update(item.clone(), 1L)
          case None =>
            // Decrement every counter; drop the ones that hit zero.
            // O(k) only on overflow rows — amortized O(1) per row for
            // skewed inputs, and k is a small constant.
            val dead = mutable.ArrayBuffer.empty[UTF8String]
            buf.mapValuesInPlace((_, c) => c - 1)
            buf.foreach { case (key, c) => if (c <= 0) dead += key }
            dead.foreach(buf.remove)
        }
      }
      buf
    }

    override def merge(buf: MgMap, other: MgMap): MgMap = {
      other.foreach { case (key, c) =>
        buf.update(key, buf.getOrElse(key, 0L) + c)
      }
      if (buf.size > k) {
        // Subtract the (k+1)-th largest count from everything; at most
        // k entries stay positive. Preserves the MG error bound
        // (mergeable-summaries composition).
        val m = buf.values.toArray.sorted(Ordering[Long].reverse).apply(k)
        val dead = mutable.ArrayBuffer.empty[UTF8String]
        buf.mapValuesInPlace((_, c) => c - m)
        buf.foreach { case (key, c) => if (c <= 0) dead += key }
        dead.foreach(buf.remove)
      }
      buf
    }

    override def eval(buf: MgMap): Any = {
      val entries = buf.toArray
      new ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          entries.map(_._1.asInstanceOf[Any])),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          entries.map(_._2.asInstanceOf[Any])))
    }

    override def serialize(buf: MgMap): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(buf.size)
      buf.foreach { case (key, c) =>
        val b = key.getBytes
        out.writeInt(b.length); out.write(b); out.writeLong(c)
      }
      out.flush(); bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): MgMap = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val n = in.readInt()
      val m = mutable.HashMap.empty[UTF8String, Long]
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val b = new Array[Byte](len)
        in.readFully(b)
        m.update(UTF8String.fromBytes(b), in.readLong())
        i += 1
      }
      m
    }
  }

  /** `graft_misra_gries(item, k)` (k a literal int), registered with
    * the other graft functions by [[graft.GraftSession]]; analysis wraps
    * the returned AggregateFunction in a Complete AggregateExpression
    * like any built-in aggregate. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_misra_gries" -> (exprs => MisraGriesTopK(
      exprs(0),
      exprs(1).eval(null) match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"graft_misra_gries: k must be a literal int, got $other")
      })))
}
