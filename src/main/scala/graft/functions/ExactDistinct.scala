package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Minimal open-addressing hash set of longs for distinct-count
  * aggregation buffers: power-of-two capacity, linear probing, 0L kept
  * out-of-band (the empty-slot marker). No per-element allocation, and
  * (de)serializes to a packed long array — the properties a partial
  * aggregation buffer needs.
  */
final class LongOpenHashSet(initialCapacity: Int = 16) {
  private var capacity = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
  private var mask = capacity - 1
  private var data = new Array[Long](capacity)
  private var n = 0
  private var hasZero = false

  def size: Long = n.toLong + (if (hasZero) 1 else 0)

  // Stafford variant 13 mixer (public domain, used by SplittableRandom):
  // full-avalanche so sequential keys spread across the table
  private def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def add(v: Long): Unit = {
    if (v == 0L) { hasZero = true; return }
    if ((n + 1L) * 4 > capacity.toLong * 3) {
      require(capacity < AdaptiveLongSet.MaxHashCapacity,
        s"hash set exceeds ${AdaptiveLongSet.MaxHashCapacity} slots")
      grow()
    }
    var i = (mix(v) & mask).toInt
    var cur = data(i)
    while (cur != 0L) {
      if (cur == v) return
      i = (i + 1) & mask
      cur = data(i)
    }
    data(i) = v
    n += 1
  }

  private def grow(): Unit = {
    val old = data
    capacity <<= 1
    mask = capacity - 1
    data = new Array[Long](capacity)
    var j = 0
    while (j < old.length) {
      val v = old(j)
      if (v != 0L) {
        var i = (mix(v) & mask).toInt
        while (data(i) != 0L) i = (i + 1) & mask
        data(i) = v
      }
      j += 1
    }
  }

  def union(other: LongOpenHashSet): Unit = {
    if (other.hasZero) hasZero = true
    val od = other.data
    var j = 0
    while (j < od.length) {
      if (od(j) != 0L) add(od(j))
      j += 1
    }
  }

  /** [byte hasZero][int n][n packed longs] */
  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(5 + n * 8)
    bb.put(if (hasZero) 1.toByte else 0.toByte)
    bb.putInt(n)
    var j = 0
    while (j < data.length) {
      if (data(j) != 0L) bb.putLong(data(j))
      j += 1
    }
    bb.array()
  }
}

object LongOpenHashSet {
  def deserialize(bytes: Array[Byte]): LongOpenHashSet = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val hasZero = bb.get() == 1
    val n = bb.getInt()
    val s = new LongOpenHashSet(math.max(16, n * 2))
    if (hasZero) s.add(0L)
    var j = 0
    while (j < n) { s.add(bb.getLong()); j += 1 }
    s
  }
}

/** Distinct-set buffer that adapts its representation to the key
  * distribution: open-addressing long hash table by default, switching
  * to a dense bitmap over the observed [min, max] range once enough
  * keys have been seen to judge density.
  *
  * Why: surrogate keys (orderkey/partkey/suppkey, user ids, row ids)
  * cluster in a bounded range — for them a bitmap is span/8 bytes
  * total vs ~16-32 bytes/key for an open-addressing table, adds are
  * branch-free bit sets (no full-avalanche probe chain that turns
  * every add into a cache miss on a multi-MB table), and merges of
  * overlapping bitmaps are word-ORs instead of per-element re-probes.
  * Sparse keys (hashes, timestamps) stay in the hash table. Measured
  * at sf1 this halves q_distinct_agg's merge cost (tools/Exp14).
  *
  * Adaptation costs nothing on the per-add hot path: density is only
  * evaluated when the hash table is about to grow (the min/max scan
  * rides the rehash pass it replaces), conversion happens at most
  * once, and a later out-of-range key grows the bitmap geometrically
  * while density stays within [[AdaptiveLongSet.MaxBitsPerKey]] — past
  * that the set reverts to a hash table and never converts again, so
  * adversarial dense-then-sparse streams pay two O(n) conversions
  * total, not per key.
  *
  * The hash phase keeps 0L out-of-band (the empty-slot marker); the
  * bitmap base is 64-aligned so unions of overlapping bitmaps are pure
  * word-ORs at an integer word offset.
  */
final class AdaptiveLongSet {
  import AdaptiveLongSet._

  // ---- hash phase (words == null) ----
  private var capacity = 16
  private var mask = capacity - 1
  private var data = new Array[Long](capacity)
  private var n = 0
  private var hasZero = false
  private var noBitmap = false // reverted once: stay a hash table
  // ---- bitmap phase (words != null; data == null) ----
  private var words: Array[Long] = null
  private var base = 0L // first representable value; 64-aligned
  private var bitN = 0  // distinct values stored in the bitmap

  def size: Long =
    (if (words != null) bitN.toLong else n.toLong) + (if (hasZero) 1 else 0)

  /** Test visibility: which representation is live, and whether a
    * bitmap was tried and abandoned — lets the property fuzz assert the
    * transitions it exists to exercise actually occurred. */
  private[graft] def usesBitmap: Boolean = words != null
  private[graft] def revertedToHash: Boolean = noBitmap

  // Stafford variant 13 mixer (public domain, used by SplittableRandom):
  // full-avalanche so sequential keys spread across the table
  private def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def add(v: Long): Unit = {
    if (v == 0L) { hasZero = true; return }
    if (words != null) { addBitmap(v); return }
    // Long arithmetic: at capacity 2^30 the Int products overflow,
    // which would either loop forever (a 16-slot "grown" table can
    // never fit) or mis-size the table — fail with a clear error
    // instead once the 2^30-slot ceiling (~805 M keys) is hit
    if ((n + 1L) * 4 > capacity.toLong * 3) {
      if (capacity >= MaxHashCapacity)
        throw new IllegalStateException(
          s"distinct-set buffer exceeds $MaxHashCapacity slots; " +
            "use approx_count_distinct at this per-group cardinality")
      growOrConvert(math.max(capacity << 1, 16))
      if (words != null) { addBitmap(v); return }
    }
    var i = (mix(v) & mask).toInt
    var cur = data(i)
    while (cur != 0L) {
      if (cur == v) return
      i = (i + 1) & mask
      cur = data(i)
    }
    data(i) = v
    n += 1
  }

  /** Make room for `more` additional keys with a single rehash (or a
    * single conversion), instead of a cascade of doublings — this is
    * what keeps merge cost linear. */
  private def ensureFits(more: Int): Unit = {
    if (words != null) return
    val need = n.toLong + more
    if (need * 4 > capacity.toLong * 3) {
      var c = capacity.toLong
      while (need * 4 > c * 3 && c < MaxHashCapacity) c <<= 1
      if (need * 4 > c * 3)
        throw new IllegalStateException(
          s"distinct-set buffer exceeds $MaxHashCapacity slots; " +
            "use approx_count_distinct at this per-group cardinality")
      growOrConvert(c.toInt)
    }
  }

  /** Rehash into `newCapacity`, or — once past the judgment threshold —
    * convert to a bitmap when the observed span is dense enough. The
    * min/max scan rides the pass over `data` that a rehash does anyway. */
  private def growOrConvert(newCapacity: Int): Unit = {
    if (!noBitmap && n >= ConvertAt) {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var j = 0
      while (j < data.length) {
        val v = data(j)
        if (v != 0L) {
          if (v < lo) lo = v
          if (v > hi) hi = v
        }
        j += 1
      }
      val span = hi - lo + 1 // overflow -> negative -> sparse
      if (span > 0 && span <= MaxBitsPerKey.toLong * n &&
          ((span + 63) >>> 6) <= MaxWords) {
        val newBase = lo & ~63L
        val w = new Array[Long]((((hi - newBase) >>> 6) + 1).toInt)
        var cnt = 0
        j = 0
        while (j < data.length) {
          val v = data(j)
          if (v != 0L) {
            val off = v - newBase
            val i = (off >>> 6).toInt
            val bit = 1L << (off & 63)
            if ((w(i) & bit) == 0L) { w(i) |= bit; cnt += 1 }
          }
          j += 1
        }
        words = w; base = newBase; bitN = cnt; data = null
        return
      }
    }
    val old = data
    capacity = newCapacity
    mask = capacity - 1
    data = new Array[Long](capacity)
    var j = 0
    while (j < old.length) {
      val v = old(j)
      if (v != 0L) {
        var i = (mix(v) & mask).toInt
        while (data(i) != 0L) i = (i + 1) & mask
        data(i) = v
      }
      j += 1
    }
  }

  private def addBitmap(v: Long): Unit = {
    while (v < base || v >= base + (words.length.toLong << 6)) {
      if (growFor(v)) { add(v); return } // reverted to hash
    }
    val off = v - base
    val w = (off >>> 6).toInt
    val bit = 1L << (off & 63)
    if ((words(w) & bit) == 0L) { words(w) |= bit; bitN += 1 }
  }

  /** Extend the bitmap to cover `v`, geometrically. Returns true if it
    * instead reverted to a hash table (density fell past the bound). */
  private def growFor(v: Long): Boolean = {
    val curBits = words.length.toLong << 6
    val newLo = math.min(base, v & ~63L)
    // cover both the old range top and v, then round the span up to
    // >= 2x current so growth is amortized; span arithmetic that
    // overflows Long means "huge" and forces the revert branch below
    var span = math.max(math.max(base + curBits, v + 1) - newLo, curBits * 2)
    if (span < 0) span = Long.MaxValue
    val needWords = (span + 63) >>> 6
    val dense = span <= MaxBitsPerKey.toLong * (bitN + 1) && needWords <= MaxWords
    if (!dense) {
      // revert: replay bits into a fresh hash table, disable bitmaps
      val saved = words
      words = null
      capacity = Integer.highestOneBit(math.max(bitN * 2, 16) * 2 - 1)
      mask = capacity - 1
      data = new Array[Long](capacity)
      n = 0
      noBitmap = true
      val savedBase = base
      var i = 0
      while (i < saved.length) {
        var w = saved(i)
        while (w != 0L) {
          val b = java.lang.Long.numberOfTrailingZeros(w)
          add(savedBase + (i.toLong << 6) + b)
          w &= w - 1
        }
        i += 1
      }
      true
    } else {
      val nw = new Array[Long](needWords.toInt)
      val shift = ((base - newLo) >>> 6).toInt
      System.arraycopy(words, 0, nw, shift, words.length)
      words = nw; base = newLo
      false
    }
  }

  private def foreachBitmap(f: Long => Unit): Unit = {
    var i = 0
    while (i < words.length) {
      var w = words(i)
      while (w != 0L) {
        val b = java.lang.Long.numberOfTrailingZeros(w)
        f(base + (i.toLong << 6) + b)
        w &= w - 1
      }
      i += 1
    }
  }

  /** Visit every stored value (0L last, iff present). */
  def foreach(f: Long => Unit): Unit = {
    if (words != null) foreachBitmap(f)
    else {
      var j = 0
      while (j < data.length) {
        if (data(j) != 0L) f(data(j))
        j += 1
      }
    }
    if (hasZero) f(0L)
  }

  def union(other: AdaptiveLongSet): Unit = {
    if (other.hasZero) hasZero = true
    if (other.words != null) {
      if (words != null && other.base >= base &&
          other.base + (other.words.length.toLong << 6) <=
            base + (words.length.toLong << 6)) {
        // fast path: other's range nests in ours — word-OR + popcount
        val shift = ((other.base - base) >>> 6).toInt
        var i = 0
        while (i < other.words.length) {
          val before = words(shift + i)
          val after = before | other.words(i)
          if (after != before) {
            bitN += java.lang.Long.bitCount(after) - java.lang.Long.bitCount(before)
            words(shift + i) = after
          }
          i += 1
        }
      } else {
        ensureFits(other.bitN)
        other.foreachBitmap(add)
      }
    } else {
      ensureFits(other.n)
      var j = 0
      while (j < other.data.length) {
        if (other.data(j) != 0L) add(other.data(j))
        j += 1
      }
    }
  }

  /** Wire format: tag 0 = packed values (hash phase), tag 1 = bitmap
    * words. Both sides of a shuffle run the same build, so the tag only
    * needs to be self-consistent within one query. */
  def serialize(): Array[Byte] = {
    if (words == null) {
      // size in Long: n > ~268M would overflow `2 + 4 + n * 8` in Int
      // arithmetic into a negative allocate() argument — fail with the
      // same guidance as the capacity guards instead
      val size = 2L + 4L + n.toLong * 8L
      if (size > Int.MaxValue - 16)
        throw new IllegalStateException(
          s"distinct-set serialized size $size exceeds array limits; " +
            "use approx_count_distinct at this per-group cardinality")
      val bb = java.nio.ByteBuffer.allocate(size.toInt)
      bb.put(0.toByte).put(if (hasZero) 1.toByte else 0.toByte)
      bb.putInt(n)
      var j = 0
      while (j < data.length) {
        if (data(j) != 0L) bb.putLong(data(j))
        j += 1
      }
      bb.array()
    } else {
      val bb = java.nio.ByteBuffer.allocate(2 + 8 + 4 + words.length * 8)
      bb.put(1.toByte).put(if (hasZero) 1.toByte else 0.toByte)
      bb.putLong(base).putInt(words.length)
      var i = 0
      while (i < words.length) { bb.putLong(words(i)); i += 1 }
      bb.array()
    }
  }
}

object AdaptiveLongSet {
  /** Distinct keys seen before judging density. */
  val ConvertAt: Int = 4096
  /** Hash-table slot ceiling (2^30: the last power of two whose resize
    * arithmetic fits an Int). Reaching it (~805 M distinct keys in ONE
    * group's buffer) fails with a clear message instead of hanging. */
  val MaxHashCapacity: Int = 1 << 30
  /** Max bitmap bits per stored key — the conversion-eagerness knob.
    * 128 bits/key is the memory-parity point (bitmap == hash-table
    * bytes); the default is deliberately ABOVE parity because the
    * bitmap's branch-free adds and word-OR merges beat the probe chain
    * long before the sizes cross. Measured on the q_distinct_agg shape
    * at sf1 (tools/Exp16 sweep, min-of-7 wall):
    * 128→536 ms, 512→471, 1024→427, 2048→484, 4096→552 — converting
    * the 90M-span orderkey stream at ~88k keys (1024 b/k) instead of
    * ~786k (128 b/k) skips the largest hash-table phase; past that the
    * early bitmap is too cold-sparse and loses it back. Transient
    * worst case 128 B/key, still hard-capped by [[MaxWords]] (16 MiB
    * per buffer) and gated on ConvertAt, with the revert path bounding
    * adversarial streams. */
  val MaxBitsPerKey: Int = 1024
  /** Hard cap on bitmap footprint: 2^21 words = 16 MiB = 128M key span.
    * Past this even a dense set stays hashed — bounded buffer memory
    * beats bitmap speed once the span stops fitting in cache anyway. */
  val MaxWords = 1L << 21

  def deserialize(bytes: Array[Byte]): AdaptiveLongSet = {
    val s = new AdaptiveLongSet()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.get() match {
      case 0 =>
        val hasZero = bb.get() == 1
        val cnt = bb.getInt()
        if (hasZero) s.hasZero = true
        s.ensureFits(cnt)
        var j = 0
        while (j < cnt) { s.add(bb.getLong()); j += 1 }
      case _ =>
        s.hasZero = bb.get() == 1
        val base = bb.getLong()
        val nWords = bb.getInt()
        s.words = new Array[Long](nWords)
        s.base = base
        s.data = null
        var cnt = 0
        var i = 0
        while (i < nWords) {
          val w = bb.getLong()
          s.words(i) = w
          cnt += java.lang.Long.bitCount(w)
          i += 1
        }
        s.bitN = cnt
    }
    s
  }
}

/** One-pass exact COUNT(DISTINCT x) for integral x.
  *
  * Spark plans multi-column exact distinct aggregation via Expand — the
  * input is replicated once per distinct aggregate and re-aggregated
  * twice, so `agg(countDistinct(a), countDistinct(b), countDistinct(c))`
  * scans 3x the rows through two exchanges. This aggregate instead keeps
  * an [[AdaptiveLongSet]] per (group, aggregate) buffer: one pass over
  * the input, map-side partial dedup, and the shuffle carries one packed
  * long array (or bitmap) per group per partition — the same bytes the
  * Expand plan shuffles as rows, without the 3x scan or the second
  * aggregation.
  *
  * Memory is proportional to per-group distinct cardinality on a single
  * executor, exactly like any exact hash distinct (DuckDB's included).
  * At cardinalities where that's unacceptable, use
  * `approx_count_distinct` (HLL++, see q_approx_distinct) or Spark's
  * Expand path, which trades memory for shuffle volume.
  */
case class ExactCountDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AdaptiveLongSet]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_count_distinct needs an integral column, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_count_distinct"

  override def createAggregationBuffer(): AdaptiveLongSet = new AdaptiveLongSet()

  // NOTE a BoundReference-primitive fast path (read the long via the
  // row accessor, skip the Number box) measured as a WASH same-JVM at
  // sf1 (tools/Exp8: 576 vs 578 ms min-of-7) — JIT escape analysis
  // already elides the box; the set update dominates, which is why the
  // buffer adapts to a bitmap for dense keys (see [[AdaptiveLongSet]]).
  override def update(b: AdaptiveLongSet, input: InternalRow): AdaptiveLongSet = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Number].longValue())
    b
  }

  override def merge(b: AdaptiveLongSet, other: AdaptiveLongSet): AdaptiveLongSet = {
    b.union(other); b
  }

  override def eval(b: AdaptiveLongSet): Any = b.size

  override def serialize(b: AdaptiveLongSet): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): AdaptiveLongSet =
    AdaptiveLongSet.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): ExactCountDistinct =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ExactCountDistinct =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): ExactCountDistinct =
    copy(child = newChild)
}

/** Distinct SET of an integral column, evaluated to its serialized
  * [[AdaptiveLongSet]] (binary). The building block of two-level exact
  * distinct re-aggregation: level 1 groups by (key, salt) and emits the
  * per-salt set; level 2 merges the per-salt sets with
  * [[ExactCountDistinctMerge]]. Used where a single final merge per
  * group would serialize on one task (see q_distinct_agg).
  */
case class ExactDistinctSet(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AdaptiveLongSet]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_distinct_set needs an integral column, got ${t.sql}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_distinct_set"

  override def createAggregationBuffer(): AdaptiveLongSet = new AdaptiveLongSet()
  override def update(b: AdaptiveLongSet, input: InternalRow): AdaptiveLongSet = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Number].longValue())
    b
  }
  override def merge(b: AdaptiveLongSet, other: AdaptiveLongSet): AdaptiveLongSet = {
    b.union(other); b
  }
  override def eval(b: AdaptiveLongSet): Any = b.serialize()
  override def serialize(b: AdaptiveLongSet): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): AdaptiveLongSet =
    AdaptiveLongSet.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): ExactDistinctSet =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ExactDistinctSet =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): ExactDistinctSet =
    copy(child = newChild)
}

/** COUNT(DISTINCT) over serialized [[AdaptiveLongSet]] values (the
  * output of [[ExactDistinctSet]]): unions the incoming sets and
  * evaluates to the distinct count. Level 2 of two-level exact distinct
  * re-aggregation. */
case class ExactCountDistinctMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AdaptiveLongSet]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_count_distinct_merge needs a serialized set (binary), got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_count_distinct_merge"

  override def createAggregationBuffer(): AdaptiveLongSet = new AdaptiveLongSet()
  override def update(b: AdaptiveLongSet, input: InternalRow): AdaptiveLongSet = {
    val v = child.eval(input)
    if (v != null) b.union(AdaptiveLongSet.deserialize(v.asInstanceOf[Array[Byte]]))
    b
  }
  override def merge(b: AdaptiveLongSet, other: AdaptiveLongSet): AdaptiveLongSet = {
    b.union(other); b
  }
  override def eval(b: AdaptiveLongSet): Any = b.size
  override def serialize(b: AdaptiveLongSet): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): AdaptiveLongSet =
    AdaptiveLongSet.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): ExactCountDistinctMerge =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ExactCountDistinctMerge =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): ExactCountDistinctMerge =
    copy(child = newChild)
}
