package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.kernels.TopKHeap

/** Grouped top-k: a bounded-heap aggregate with map-side partial
  * aggregation — the distributed, *grouped* generalization of the
  * reference's k-slot scan loop (sqlite-vector.c:2022-2113 keeps k best in
  * a flat slot array with worst-replacement; `KnnTopK` is that shape
  * for ONE query).
  *
  * `knn_topk(distance, id, k)` in a `groupBy(probe_id)` answers N probes
  * in one corpus scan: each task folds its partition into an O(k) heap per
  * group (partial aggregation), and only N×k×(12 bytes) cross the shuffle
  * — against the window-function alternative (`row_number() OVER
  * (PARTITION BY probe ORDER BY dist)`) which shuffles and SORTS the full
  * N×corpus distance set. At 100 TB that is the difference between a
  * shuffle of kilobytes and a shuffle of the corpus.
  *
  * Ordering is lexicographic on (value, id) — strictly deterministic, same
  * tie-break the single-probe gates use. Result: `array<struct<distance,
  * id>>` sorted ascending, fewer than k entries if the group is smaller.
  * Null distance or id rows are skipped (the reference skips NULL vectors,
  * :2093).
  */
case class TopKPairs(valueExpr: Expression, idExpr: Expression, k: Int,
                     mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKHeap] with ExpectsInputTypes {

  require(k > 0, s"knn_topk requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(valueExpr, idExpr)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("distance", DoubleType, nullable = false),
                   StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "knn_topk"

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    // NaN is skipped, not ranked: it is incomparable, so it could neither
    // be evicted from the heap nor ordered in the output (±Inf is fine —
    // the reference's L2 yields +Inf on Inf lanes and orders normally)
    if (v != null && id != null && !v.asInstanceOf[Double].isNaN)
      buffer.offer(v.asInstanceOf[Double], id.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    other.foreach(buffer.offer)
    buffer
  }

  override def eval(buffer: TopKHeap): Any = {
    val (ds, is) = buffer.drainSorted()
    val rows = new Array[Any](ds.length)
    var i = 0
    while (i < ds.length) {
      rows(i) = InternalRow(ds(i), is(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buffer.size)
    bb.putInt(buffer.size)
    buffer.foreach { (d, id) => bb.putDouble(d); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val h = new TopKHeap(k)
    var i = 0
    while (i < n) { h.offer(bb.getDouble, bb.getLong); i += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(valueExpr = c(0), idExpr = c(1))
}

/** Bounded DISTINCT top-k strings by (priority, value) — the skew-proof
  * `collect_set` replacement: a per-group set aggregate whose state never
  * exceeds k entries regardless of the group's cardinality. A hot key
  * (homepage-scale in-degree in an anchor-text corpus) feeds millions of
  * distinct strings into ONE group; `collect_set` accumulates them all on
  * one reducer, this keeps the k smallest by the caller's deterministic
  * (priority, value) order — a reproducible uniform sample when the
  * priority is a hash of the value.
  *
  * Distinctness and the bound compose: duplicates of a KEPT value are
  * recognized set-membership-style and ignored; a value outside the kept
  * window is rejected (or evicts the worst) and sets the `capped` flag.
  * The flag is EXACT for "group has more than k distinct values": if no
  * insert was ever rejected and no merge ever overflowed, every distinct
  * value that arrived is still in the final set — so `capped = false`
  * proves the set is complete, and `capped = true` proves at least k+1
  * distinct (priority, value) pairs existed. Never a silent cap.
  *
  * NaN priorities are skipped (the TopKPairs convention); NULL values
  * likewise. Result: struct(kept array<string> in (priority, value)
  * order, capped boolean). Map-side partial aggregation: only ≤ k
  * strings per group per task cross the shuffle.
  */
case class TopKDistinctStrings(priExpr: Expression, valExpr: Expression, k: Int,
                               mutableAggBufferOffset: Int = 0,
                               inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[DistinctTopK] with ExpectsInputTypes {

  require(k > 0, s"topk_distinct_strings requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(priExpr, valExpr)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, StringType)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("kept", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("capped", BooleanType, nullable = false)))
  override def prettyName: String = "topk_distinct_strings"

  override def createAggregationBuffer(): DistinctTopK = new DistinctTopK(k)

  override def update(buffer: DistinctTopK, input: InternalRow): DistinctTopK = {
    val p = priExpr.eval(input)
    val v = valExpr.eval(input)
    if (p != null && v != null && !p.asInstanceOf[Double].isNaN)
      buffer.insert(p.asInstanceOf[Double], v.toString)
    buffer
  }

  override def merge(buffer: DistinctTopK, other: DistinctTopK): DistinctTopK = {
    other.set.foreach { case (p, v) => buffer.insert(p, v) }
    if (other.capped) buffer.capped = true
    buffer
  }

  override def eval(buffer: DistinctTopK): Any = {
    val vals = new Array[Any](buffer.set.size)
    var i = 0
    buffer.set.foreach { case (_, v) =>
      vals(i) = org.apache.spark.unsafe.types.UTF8String.fromString(v)
      i += 1
    }
    InternalRow(new GenericArrayData(vals), buffer.capped)
  }

  override def serialize(buffer: DistinctTopK): Array[Byte] = {
    val enc = buffer.set.toSeq.map { case (p, v) =>
      (p, v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val bb = ByteBuffer.allocate(5 + enc.map(e => 12 + e._2.length).sum)
    bb.put(if (buffer.capped) 1.toByte else 0.toByte)
    bb.putInt(enc.size)
    enc.foreach { case (p, b) => bb.putDouble(p); bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DistinctTopK = {
    val bb = ByteBuffer.wrap(bytes)
    val h = new DistinctTopK(k)
    val capped = bb.get() == 1.toByte
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val p = bb.getDouble
      val b = new Array[Byte](bb.getInt)
      bb.get(b)
      h.insert(p, new String(b, java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    h.capped = capped
    h
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(priExpr = c(0), valExpr = c(1))
}

/** Ordered bounded set over (priority, value) pairs: a TreeSet kept at
  * ≤ k entries — O(log k) membership + worst-eviction. `capped` records
  * that an insert was rejected or an eviction happened, i.e. the group
  * held more than k distinct pairs (exactness argued at
  * [[TopKDistinctStrings]]).
  */
final class DistinctTopK(k: Int) {
  val set: scala.collection.mutable.TreeSet[(Double, String)] =
    scala.collection.mutable.TreeSet.empty[(Double, String)](DistinctTopK.PairOrd)
  var capped = false

  def insert(p: Double, v: String): Unit = {
    val key = (p, v)
    if (!set.contains(key)) {
      if (set.size < k) set += key
      else {
        capped = true
        if (DistinctTopK.PairOrd.lt(key, set.last)) {
          set -= set.last
          set += key
        }
      }
    }
  }
}

object DistinctTopK {
  /** Tie-break strings by UTF-8 BYTE order (UTF8String.compareTo), not
    * JVM UTF-16 code-unit order — so an independent SQL engine's
    * `ORDER BY priority, value` over UTF-8 text replays the identical
    * cut even when values contain supplementary-plane characters (where
    * the two orders diverge: surrogates sort above U+E000..U+FFFF in
    * UTF-16 but below in UTF-8 bytes).
    */
  val PairOrd: Ordering[(Double, String)] = new Ordering[(Double, String)] {
    def compare(a: (Double, String), b: (Double, String)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else compareUtf8Order(a._2, b._2)
    }
  }

  /** UTF-8 byte order (= code-point order) over JVM strings WITHOUT
    * encoding either side — the heap's O(log k) compares per row must
    * not pay two byte-array materializations each. Chars compare
    * directly except when BOTH are >= U+D800, where the surrogate
    * adjustment (surrogates +0x2000, U+E000.. -0x800) swaps the two
    * ranges so a surrogate pair — i.e. any supplementary code point —
    * sorts ABOVE every BMP char, exactly as its 4-byte UTF-8 form does.
    * (When only one side is >= U+D800 the other is < U+D800 and the raw
    * char compare already agrees with byte order.)
    */
  private[graft] def compareUtf8Order(x: String, y: String): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      var cx: Int = x.charAt(i)
      var cy: Int = y.charAt(i)
      if (cx != cy) {
        if (cx >= 0xD800 && cy >= 0xD800) {
          cx = if (cx >= 0xE000) cx - 0x800 else cx + 0x2000
          cy = if (cy >= 0xE000) cy - 0x800 else cy + 0x2000
        }
        return cx - cy
      }
      i += 1
    }
    x.length - y.length
  }
}

/** Per-group vector centroid in exact fixed-point: each lane is scaled by
  * 10⁶ and rounded half-away-from-zero to a Long (NaN and null lanes
  * contribute 0 — the same convention the quantizer's rounding uses,
  * sqlite-vector.c:495-515), summed as integers, divided back at eval.
  *
  * Integer accumulation makes the result PARTITION-ORDER INDEPENDENT —
  * a plain double sum is not associative, so its low bits vary run to run
  * and can never hash-match an oracle. The fixed-point's ±5e-7 per-lane
  * quantization is far below the float32 input precision.
  *
  * Scale shape: one `Array[Long](dim+1)` buffer per group per task
  * (map-side partial aggregation), so the shuffle carries
  * groups × (dim+1) × 8 bytes — NOT the corpus. The SemDeDup-style
  * building block: cluster centroids for embedding-space dedup in one
  * aggregation pass.
  *
  * Overflow bound: a lane sum saturates Long at 2⁶³/10⁶ ≈ 9.2×10¹² in
  * absolute value — with unit-normalized lanes (|x| ≤ 1) that is ~9×10¹²
  * rows in ONE group, three orders of magnitude beyond a 10¹⁰-vector
  * (100 TB) corpus collapsing into a single cluster. Division at eval is
  * exact as long as the lane sum stays below 2⁵³ (it does by the same
  * margin).
  */
case class VectorAvgFixed(child: Expression, dim: Int,
                          mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes {

  require(dim > 0, s"vector_avg requires dim > 0, got $dim")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vector_avg"

  // slot dim holds the row count
  override def createAggregationBuffer(): Array[Long] = new Array[Long](dim + 1)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      require(arr.numElements() == dim,
        s"vector_avg: expected dim $dim, got ${arr.numElements()}")
      var i = 0
      while (i < dim) {
        if (!arr.isNullAt(i)) buffer(i) += fixedPoint(arr.getFloat(i))
        i += 1
      }
      buffer(dim) += 1
    }
    buffer
  }

  @inline private def fixedPoint(x: Float): Long = {
    val d = x.toDouble * 1e6
    if (d.isNaN) 0L
    else if (d >= 0) math.floor(d + 0.5).toLong
    else math.ceil(d - 0.5).toLong
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i <= dim) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = {
    val n = buffer(dim)
    if (n == 0) null
    else {
      val out = new Array[Any](dim)
      var i = 0
      while (i < dim) { out(i) = buffer(i).toDouble / (n.toDouble * 1e6); i += 1 }
      new GenericArrayData(out)
    }
  }

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * (dim + 1))
    var i = 0
    while (i <= dim) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](dim + 1)
    var i = 0
    while (i <= dim) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

/** Misra-Gries heavy-hitters sketch: a fixed-size (≤ k entries) frequency
  * summary with the classic deterministic guarantee — every item whose
  * true count exceeds n/(k+1) is PRESENT in the summary, and each
  * reported estimate underestimates its true count by at most n/(k+1)
  * (never overestimates).
  *
  * The 100 TB shape: exact vocabulary counting (`groupBy(token)`)
  * shuffles the full corpus-wide vocabulary — billions of keys for web
  * text. This aggregate folds each partition into ≤ k counters
  * (map-side partial aggregation), merges k-sized summaries across the
  * exchange (the Agarwal et al. mergeable-summaries merge: sum, then
  * subtract the (k+1)-th largest count and drop non-positives, which
  * preserves the additive bound), and only k (token, est) pairs ever
  * cross the wire. Serve it as a candidate filter: sketch → ≤ k
  * candidates → broadcast semi-join → exact recount of candidates only —
  * exact top-N output, sketch-sized shuffles (the heavy_hitters gate).
  *
  * NULL items are skipped (consistent with COUNT/knn_topk). Output:
  * `array<struct<token, est>>` sorted (est DESC, token ASC) — fully
  * deterministic for a given partitioning; merges are order-insensitive
  * in the bound, not bit-for-bit, which is why gates recount exactly.
  */
case class FreqItemsSketch(child: Expression, k: Int,
                           mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[String, Long]] with ExpectsInputTypes {

  require(k > 0, s"freq_items_sketch requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("token", StringType, nullable = false),
                   StructField("est", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "freq_items_sketch"

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  override def update(buffer: java.util.HashMap[String, Long],
                      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val t = v.toString // copy out of the reused UTF8String buffer
      val cur = buffer.getOrDefault(t, 0L)
      if (cur != 0L) buffer.put(t, cur + 1)
      else if (buffer.size < k) buffer.put(t, 1L)
      else {
        // decrement-all: each unit pairs an increment with a decrement, so
        // total decrement work is amortized O(1) per input item
        val it = buffer.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1)
        }
      }
    }
    buffer
  }

  override def merge(buffer: java.util.HashMap[String, Long],
                     other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    other.forEach { (t, c) => buffer.put(t, buffer.getOrDefault(t, 0L) + c) }
    if (buffer.size > k) {
      // subtract the (k+1)-th largest count from everything, drop <= 0
      val counts = new Array[Long](buffer.size)
      var i = 0
      val vit = buffer.values().iterator()
      while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(counts)
      val sub = counts(buffer.size - k - 1) // (k+1)-th largest
      val it = buffer.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= sub) it.remove() else e.setValue(e.getValue - sub)
      }
    }
    buffer
  }

  override def eval(buffer: java.util.HashMap[String, Long]): Any = {
    val entries = new Array[(String, Long)](buffer.size)
    var i = 0
    buffer.forEach { (t, c) => entries(i) = (t, c); i += 1 }
    scala.util.Sorting.stableSort(entries,
      (a: (String, Long), b: (String, Long)) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
    val rows = new Array[Any](entries.length)
    i = 0
    while (i < entries.length) {
      rows(i) = InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(entries(i)._1), entries(i)._2)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: java.util.HashMap[String, Long]): Array[Byte] = {
    var bytes = 4
    val enc = new scala.collection.mutable.ArrayBuffer[(Array[Byte], Long)](buffer.size)
    buffer.forEach { (t, c) =>
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      enc += ((b, c)); bytes += 4 + b.length + 8
    }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(enc.size)
    enc.foreach { case (b, c) => bb.putInt(b.length); bb.put(b); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = new java.util.HashMap[String, Long](n * 2)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      m.put(new String(b, java.nio.charset.StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}
