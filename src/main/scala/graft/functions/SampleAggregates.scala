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

/** Deterministic fixed-size uniform group sampling: keep the `k` rows with
  * the smallest (sortKey, payload) per group — "bottom-k by hash".
  *
  * With sortKey = a hash of the row (e.g. md5 of the document), this is an
  * order-independent uniform sample: unlike reservoir sampling it does not
  * depend on partitioning or row arrival order, so results are reproducible
  * on any cluster layout — the property that matters when a 100 TB pipeline
  * must be re-runnable. A real training-data need (sample k docs per
  * domain/language) with no Spark built-in (`TABLESAMPLE` is global,
  * `rand()`-window sampling is nondeterministic under retries).
  *
  * Implementation: [[TypedImperativeAggregate]] with a bounded max-heap
  * buffer — O(k) state per group, partial aggregation merges heaps, so the
  * shuffle carries at most k entries per (partition, group).
  */
case class BottomKSample(
    sortKey: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(String, Long)]] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(sortKey, payload)

  override def checkInputDataTypes(): TypeCheckResult =
    (sortKey.dataType, payload.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, p) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, bigint), got (${s.simpleString}, ${p.simpleString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bottomk_sample"

  // max-heap on (sortKey, payload): the head is the largest kept entry and
  // is evicted when something smaller arrives
  private val ord: Ordering[(String, Long)] = Ordering.Tuple2[String, Long]

  override def createAggregationBuffer(): mutable.PriorityQueue[(String, Long)] =
    mutable.PriorityQueue.empty[(String, Long)](ord)

  override def update(buf: mutable.PriorityQueue[(String, Long)],
                      input: InternalRow): mutable.PriorityQueue[(String, Long)] = {
    val kv = sortKey.eval(input)
    val pv = payload.eval(input)
    if (kv != null && pv != null) {
      val entry = (kv.asInstanceOf[UTF8String].toString, pv.asInstanceOf[Long])
      if (buf.size < k) buf.enqueue(entry)
      else if (ord.lt(entry, buf.head)) { buf.dequeue(); buf.enqueue(entry) }
    }
    buf
  }

  override def merge(a: mutable.PriorityQueue[(String, Long)],
                     b: mutable.PriorityQueue[(String, Long)]): mutable.PriorityQueue[(String, Long)] = {
    b.foreach { entry =>
      if (a.size < k) a.enqueue(entry)
      else if (ord.lt(entry, a.head)) { a.dequeue(); a.enqueue(entry) }
    }
    a
  }

  override def eval(buf: mutable.PriorityQueue[(String, Long)]): Any =
    new GenericArrayData(buf.toArray.sorted(ord).map(_._2))

  // length-prefixed UTF-8, not writeUTF: modified-UTF-8 caps entries at
  // 64 KB, and the sort key is caller-supplied (hashes today, but nothing
  // enforces short strings)
  override def serialize(buf: mutable.PriorityQueue[(String, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, p) =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(p)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(String, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.enqueue((new String(b, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKSample =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKSample =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(sortKey = newChildren(0), payload = newChildren(1))
}

object SampleAggregates {
  val BOTTOMK_FN = "graft_bottomk"

  /** `graft_bottomk(sortKey, payload, k)`; k must be a literal. */
  val functions: Seq[NativeFunctions.Description] = Seq(
    NativeFunctions.describe(BOTTOMK_FN, classOf[BottomKSample]) { exprs =>
      require(exprs.length == 3,
        s"$BOTTOMK_FN expects (sortKey, payload, k), got ${exprs.length} args")
      val k = exprs(2) match {
        case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
        case other => throw new IllegalArgumentException(
          s"k must be a literal, got $other")
      }
      BottomKSample(exprs(0), exprs(1), k)
    })

  def register(spark: SparkSession): Unit =
    NativeFunctions.registerMissing(spark, functions)
}
