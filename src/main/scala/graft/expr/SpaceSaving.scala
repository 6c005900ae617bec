package graft.expr

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy hitters (Metwally, Agrawal, El Abbadi 2005) as a
  * mergeable Spark aggregate: top frequent items of a string column in ONE
  * pass with a hard `capacity`-counter memory bound per partial aggregate —
  * the 100 TB answer to "top tokens" when the exact
  * `groupBy(item).count.orderBy.limit(k)` would shuffle one row per
  * DISTINCT item (web-scale vocabularies: billions of keys).
  *
  * Guarantees (the classic ones, preserved under Spark's partial/final
  * two-phase aggregation by the mergeable-summaries merge of Agarwal et
  * al. 2012 — sum counters for common items, keep the `capacity` largest):
  *   - estimate is an overestimate: true ≤ cnt ≤ true + err, per item;
  *   - any item with true count > N/capacity is guaranteed present;
  *   - if capacity ≥ total distinct items, no counter is ever evicted
  *     anywhere and every count is EXACT with err = 0 (the regime the
  *     DuckDB oracle pins; the approximate regime is spec-pinned).
  *
  * Eviction and merge-truncation tie-breaks are ordered (count, then item
  * bytes) so results are deterministic for a given partitioning.
  *
  * Returns `array<struct<item,cnt,err>>` sorted by (cnt desc, item asc);
  * explode + limit downstream for top-k.
  */
case class SpaceSavingTopK(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingTopK.Summary]
  with UnaryLike[Expression] {

  require(capacity > 0, "space_saving capacity must be positive")

  override def prettyName: String = "space_saving_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = SpaceSavingTopK.resultType

  override def createAggregationBuffer(): SpaceSavingTopK.Summary =
    new SpaceSavingTopK.Summary(capacity)

  override def update(buffer: SpaceSavingTopK.Summary, input: InternalRow): SpaceSavingTopK.Summary = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[UTF8String], 1L)
    buffer
  }

  override def merge(buffer: SpaceSavingTopK.Summary,
      other: SpaceSavingTopK.Summary): SpaceSavingTopK.Summary = {
    buffer.mergeIn(other)
    buffer
  }

  override def eval(buffer: SpaceSavingTopK.Summary): Any = {
    val sorted = buffer.sortedEntries
    new GenericArrayData(sorted.map { e =>
      InternalRow(e._1, e._2, e._3)
    })
  }

  override def serialize(buffer: SpaceSavingTopK.Summary): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.capacity)
    out.writeBoolean(buffer.hasEvicted)
    out.writeInt(buffer.size)
    buffer.foreach { (item, cnt, err) =>
      val b = item.getBytes
      out.writeInt(b.length); out.write(b)
      out.writeLong(cnt); out.writeLong(err)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingTopK.Summary = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val cap = in.readInt()
    val s = new SpaceSavingTopK.Summary(cap)
    s.setEvicted(in.readBoolean())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      s.put(UTF8String.fromBytes(b), in.readLong(), in.readLong())
      i += 1
    }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SpaceSavingTopK =
    copy(child = newChild)
}

object SpaceSavingTopK {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("err", LongType, nullable = false))), containsNull = false)

  /** The bounded counter set: item → [cnt, err]. Mutation is single-threaded
    * per aggregation buffer (Spark's contract), so a plain HashMap.
    *
    * `evicted` tracks whether this summary has EVER dropped a counter: while
    * false, absence of an item means its true count is zero (the summary is
    * a complete exact map); once true, absence only bounds the true count by
    * the current minimum counter — which is exactly the floor the merge must
    * add for items the other side doesn't track (Agarwal et al. 2012;
    * without the floor a merge UNDERCOUNTS items evicted from one side, a
    * bug the 200-trial property spec caught). */
  final class Summary(val capacity: Int) {
    private val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    private var evicted = false

    def size: Int = counts.size

    def hasEvicted: Boolean = evicted

    /** Restore the eviction flag (deserialization only). */
    def setEvicted(e: Boolean): Unit = evicted = e

    /** Upper bound on the true count of any item NOT in this summary: 0
      * while the summary is still a complete map, else the min counter. */
    def absentFloor: Long = {
      if (!evicted) return 0L
      var m = Long.MaxValue
      val it = counts.values().iterator()
      while (it.hasNext) m = math.min(m, it.next()(0))
      if (m == Long.MaxValue) 0L else m
    }

    def foreach(f: (UTF8String, Long, Long) => Unit): Unit = {
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        f(e.getKey, e.getValue()(0), e.getValue()(1))
      }
    }

    /** Raw insert for deserialization/merge (no eviction logic). */
    def put(item: UTF8String, cnt: Long, err: Long): Unit =
      counts.put(item, Array(cnt, err))

    def add(item: UTF8String, w: Long): Unit = {
      val cur = counts.get(item)
      if (cur != null) { cur(0) += w; return }
      if (counts.size < capacity) {
        // UTF8String from an unsafe row points into a reused buffer — copy
        counts.put(item.clone(), Array(w, 0L))
        return
      }
      // evict the deterministic minimum: (cnt asc, item bytes asc)
      var minKey: UTF8String = null
      var minCnt = Long.MaxValue
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        if (c < minCnt || (c == minCnt && (minKey == null || e.getKey.compareTo(minKey) < 0))) {
          minCnt = c; minKey = e.getKey
        }
      }
      counts.remove(minKey)
      evicted = true
      // the newcomer inherits the evictee's count as its error bound
      counts.put(item.clone(), Array(minCnt + w, minCnt))
    }

    /** Mergeable-summaries merge (Agarwal et al. 2012): for each item in
      * the union, sum the two sides' estimates, where a side that doesn't
      * track the item contributes its [[absentFloor]] to BOTH count and
      * error (its true count there is ≤ the floor, ≥ 0) — then keep the
      * `capacity` largest (cnt desc, item asc). Preserves the overestimate
      * invariant true ≤ cnt ≤ true + err through any merge tree, including
      * Spark's partial/final and multi-level AQE aggregations; while
      * neither side has ever evicted (floors 0) the merge is EXACT. */
    def mergeIn(other: Summary): Unit = {
      val floorSelf = absentFloor
      val floorOther = other.absentFloor
      if (other.hasEvicted) evicted = true
      // pass 1: items this side tracks — add other's estimate or its floor
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val o = other.counts.get(e.getKey)
        if (o != null) { e.getValue()(0) += o(0); e.getValue()(1) += o(1) }
        else { e.getValue()(0) += floorOther; e.getValue()(1) += floorOther }
      }
      // pass 2: items only the other side tracks — take with self's floor
      other.foreach { (item, cnt, err) =>
        if (!counts.containsKey(item))
          counts.put(item, Array(cnt + floorSelf, err + floorSelf))
      }
      if (counts.size > capacity) {
        val keep = sortedEntries.take(capacity)
        counts.clear()
        keep.foreach { e => counts.put(e._1, Array(e._2, e._3)) }
        evicted = true
      }
    }

    /** Entries as (item, cnt, err) sorted by (cnt desc, item asc). */
    def sortedEntries: Array[(UTF8String, Long, Long)] = {
      val arr = new Array[(UTF8String, Long, Long)](counts.size)
      var i = 0
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        arr(i) = (e.getKey, e.getValue()(0), e.getValue()(1))
        i += 1
      }
      arr.sortWith { (a, b) =>
        if (a._2 != b._2) a._2 > b._2 else a._1.compareTo(b._1) < 0
      }
    }
  }
}
