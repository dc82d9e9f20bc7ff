package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable SpaceSaving state: the item → (count, err) map plus a
  * count-indexed bucket structure (TreeMap count → TreeSet of items) so
  * the eviction victim — smallest count, then smallest item for
  * determinism — is found in O(log capacity). Without the buckets every
  * non-resident tail row would pay an O(capacity) min-scan, turning the
  * "cheap first pass" into O(rows × capacity) on heavy-tailed streams.
  */
final class SpaceSavingBuffer(val capacity: Int) {
  val counts: mutable.HashMap[String, (Long, Long)] = mutable.HashMap.empty
  private val buckets = new java.util.TreeMap[Long, java.util.TreeSet[String]]()

  private def bucketAdd(c: Long, item: String): Unit = {
    var s = buckets.get(c)
    if (s == null) { s = new java.util.TreeSet[String](); buckets.put(c, s) }
    s.add(item); ()
  }

  private def bucketRemove(c: Long, item: String): Unit = {
    val s = buckets.get(c)
    s.remove(item)
    if (s.isEmpty) buckets.remove(c)
    ()
  }

  def size: Int = counts.size

  /** Direct insert for deserialize/merge rebuild (item must be absent). */
  def put(item: String, c: Long, e: Long): Unit = {
    counts(item) = (c, e); bucketAdd(c, item)
  }

  /** One SpaceSaving update step. */
  def increment(item: String): Unit = counts.get(item) match {
    case Some((c, e)) =>
      counts(item) = (c + 1, e); bucketRemove(c, item); bucketAdd(c + 1, item)
    case None if counts.size < capacity =>
      put(item, 1L, 0L)
    case None =>
      val minC = buckets.firstKey()
      val evict = buckets.firstEntry().getValue.first()
      bucketRemove(minC, evict); counts.remove(evict)
      // the newcomer inherits the evicted count as its error bound
      put(item, minC + 1, minC)
  }
}

/** SpaceSaving (Metwally et al.) frequent-items summary as a
  * [[TypedImperativeAggregate]]: O(capacity) state per group no matter how
  * large the key universe — the primitive that finds heavy hitters over a
  * billion-key vocabulary where a full `groupBy(key).count()` would carry
  * the whole vocabulary through the shuffle.
  *
  * Guarantees (standard SpaceSaving), scoped precisely:
  *  - **single stream** (one partition, no merges): every item with true
  *    frequency > n/capacity is present, and each reported count
  *    overestimates the true count by at most its recorded `err`;
  *  - **after partial-aggregation merges**: only the (scaled) superset
  *    property survives — an item above (#merged summaries)·nᵢ/capacity
  *    is still present. The per-item count/err bounds are
  *    partitioning-dependent and NOT guaranteed: an item evicted from some
  *    partitions' summaries loses that mass, so a merged count can also
  *    *under*state the truth.
  * Callers that need exact final answers rely only on the superset
  * property and verify candidates with a second exact pass
  * ([[graft.operators.Frequency.exactHeavyHitters]]).
  */
case class SpaceSavingSummary(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingBuffer] {

  require(capacity > 0, "capacity must be positive")

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("err", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "spacesaving_summary"

  override def createAggregationBuffer(): SpaceSavingBuffer =
    new SpaceSavingBuffer(capacity)

  override def update(buf: SpaceSavingBuffer,
                      input: InternalRow): SpaceSavingBuffer = {
    val v = child.eval(input)
    if (v != null) buf.increment(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(a: SpaceSavingBuffer,
                     b: SpaceSavingBuffer): SpaceSavingBuffer = {
    // sum counts/errors for the union, then rebuild keeping the largest
    // `capacity` (item tie-break keeps the result partitioning-
    // deterministic); merge runs once per shuffled partial, so the
    // O(cap log cap) rebuild is off the per-row path
    val merged = mutable.HashMap.empty[String, (Long, Long)]
    merged ++= a.counts
    b.counts.foreach { case (item, (c, e)) =>
      val (c0, e0) = merged.getOrElse(item, (0L, 0L))
      merged(item) = (c0 + c, e0 + e)
    }
    val out = createAggregationBuffer()
    merged.toSeq.sortBy { case (item, (c, _)) => (-c, item) }
      .take(capacity)
      .foreach { case (item, (c, e)) => out.put(item, c, e) }
    out
  }

  override def eval(buf: SpaceSavingBuffer): Any =
    new GenericArrayData(buf.counts.toSeq
      .sortBy { case (item, (c, _)) => (-c, item) }
      .map { case (item, (c, e)) =>
        InternalRow(UTF8String.fromString(item), c, e)
      }.toArray[Any])

  // length-prefixed UTF-8, not writeUTF: modified-UTF-8 caps entries at
  // 64 KB and would kill the shuffle on a long item (full URLs, passages)
  override def serialize(buf: SpaceSavingBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (item, (c, e)) =>
      val b = item.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b)
      out.writeLong(c); out.writeLong(e)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.put(new String(b, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong(), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingSummary =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingSummary =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object FrequencyAggregates {
  val SPACESAVING_FN = "graft_spacesaving"

  /** `graft_spacesaving(item, capacity)`; capacity must be a literal. */
  val functions: Seq[NativeFunctions.Description] = Seq(
    NativeFunctions.describe(SPACESAVING_FN, classOf[SpaceSavingSummary]) {
      exprs =>
        require(exprs.length == 2,
          s"$SPACESAVING_FN expects (item, capacity), got ${exprs.length} args")
        val cap = exprs(1) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case other => throw new IllegalArgumentException(
            s"capacity must be a literal, got $other")
        }
        SpaceSavingSummary(exprs(0), cap)
    })

  def register(spark: SparkSession): Unit =
    NativeFunctions.registerMissing(spark, functions)
}
