package graft.acid

/** Compressed bitmap over row ordinals — the positional
  * deletion-vector payload (roaring-style two-level layout, own
  * implementation; no new dependencies).
  *
  * Values are grouped by their high bits into 2^16-wide containers:
  * sparse containers (< [[GraftBitmap.ArrayMax]] entries) store sorted
  * unsigned 16-bit members; dense containers store a 1024-word bitset.
  * A mask of 1M dense deletes serializes to ~128 KiB (16 full bitmap
  * containers), vs ~8 MB for the id-array representation it replaces —
  * the bounded shape a heavily-masked file needs at 100 TB, where the
  * mask ships into every task reading the file.
  *
  * Membership is the hot path (called per scanned row on executors):
  * binary search over container keys, then bit test / member search.
  * Construction happens driver-side at delete time (point-delete sized
  * by contract) and at sidecar union time.
  *
  * Reference for the DELETE semantics this carries:
  * db-core marks deleted entries with a flag bit and defers physical
  * reclaim (block.rs:464-474 `is_deleted`, instance.rs:141-168);
  * the positional vector is that flag bit externalized per file. */
final class GraftBitmap private (
    private val keys: Array[Long],          // sorted container keys (value >>> 16)
    private val containers: Array[AnyRef])  // Array[Char] sorted | Array[Long] bitset
    extends Serializable {
  import GraftBitmap._

  def contains(v: Long): Boolean = {
    if (v < 0) return false
    val i = java.util.Arrays.binarySearch(keys, v >>> 16)
    if (i < 0) return false
    val low = (v & 0xffff).toInt
    containers(i) match {
      case a: Array[Char] =>
        java.util.Arrays.binarySearch(a, low.toChar) >= 0
      case b: Array[Long] =>
        (b(low >>> 6) & (1L << (low & 63))) != 0
    }
  }

  def isEmpty: Boolean = keys.isEmpty
  def nonEmpty: Boolean = keys.nonEmpty

  def cardinality: Long = {
    var n = 0L
    containers.foreach {
      case a: Array[Char] => n += a.length
      case b: Array[Long] => b.foreach(w => n += java.lang.Long.bitCount(w))
    }
    n
  }

  /** Ascending iterator over the set members (test/debug surface —
    * never on the scan hot path). */
  def iterator: Iterator[Long] = keys.iterator.zip(containers.iterator)
    .flatMap {
      case (k, a: Array[Char]) => a.iterator.map(c => (k << 16) | c.toLong)
      case (k, b: Array[Long]) =>
        (0 until BitsPerContainer).iterator
          .filter(low => (b(low >>> 6) & (1L << (low & 63))) != 0)
          .map(low => (k << 16) | low.toLong)
      case _ => Iterator.empty
    }

  /** Set union — a delete adds its hits to a file's prior mask, and a
    * reader folds a file's sidecar list into one mask. */
  def union(other: GraftBitmap): GraftBitmap = {
    if (other.isEmpty) return this
    if (this.isEmpty) return other
    val b = new Builder
    this.iterator.foreach(b.add)
    other.iterator.foreach(b.add)
    b.result()
  }

  /** Compact binary form: magic, container count, then per container
    * key + tag + payload. Sorted and canonical — equal sets serialize
    * byte-identically (sidecar files are crc'd wholes). */
  def serialize(): Array[Byte] = {
    var size = 8 // magic + count
    containers.foreach {
      case a: Array[Char] => size += 8 + 1 + 4 + 2 * a.length
      case _: Array[Long] => size += 8 + 1 + 4 + 8 * WordsPerContainer
    }
    val buf = java.nio.ByteBuffer.allocate(size)
    buf.putInt(Magic)
    buf.putInt(keys.length)
    var i = 0
    while (i < keys.length) {
      buf.putLong(keys(i))
      containers(i) match {
        case a: Array[Char] =>
          buf.put(TagArray).putInt(a.length)
          a.foreach(c => buf.putChar(c))
        case b: Array[Long] =>
          buf.put(TagBitmap).putInt(WordsPerContainer)
          b.foreach(buf.putLong)
      }
      i += 1
    }
    buf.array()
  }
}

object GraftBitmap {
  private val Magic = 0x47424d31 // "GBM1"
  private val TagArray: Byte = 0
  private val TagBitmap: Byte = 1
  private val BitsPerContainer = 1 << 16
  private val WordsPerContainer = BitsPerContainer / 64
  /** Sparse->dense crossover: past this many members the 2-byte array
    * outgrows the fixed 8 KiB bitset. */
  val ArrayMax = 4096

  val empty: GraftBitmap =
    new GraftBitmap(Array.emptyLongArray, Array.empty[AnyRef])

  def deserialize(bytes: Array[Byte]): GraftBitmap = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val magic = buf.getInt
    require(magic == Magic,
      f"not a graft bitmap: magic 0x$magic%08x") // a torn/mistyped
    // sidecar must fail loudly — silently empty = resurrected deletes
    val n = buf.getInt
    val keys = new Array[Long](n)
    val containers = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      keys(i) = buf.getLong
      val tag = buf.get()
      val card = buf.getInt
      if (tag == TagArray) {
        val a = new Array[Char](card)
        var j = 0
        while (j < card) { a(j) = buf.getChar; j += 1 }
        containers(i) = a
      } else {
        require(tag == TagBitmap && card == WordsPerContainer,
          s"corrupt graft bitmap container: tag $tag card $card")
        val b = new Array[Long](WordsPerContainer)
        var j = 0
        while (j < WordsPerContainer) { b(j) = buf.getLong; j += 1 }
        containers(i) = b
      }
      i += 1
    }
    new GraftBitmap(keys, containers)
  }

  def apply(values: Iterable[Long]): GraftBitmap = {
    val b = new Builder
    values.foreach(b.add)
    b.result()
  }

  /** Driver-side accumulator: members collect into per-container
    * bitsets, canonicalized (dense vs sparse) at [[result]]. */
  final class Builder {
    private val map =
      new java.util.TreeMap[java.lang.Long, Array[Long]]()
    def add(v: Long): Unit = {
      require(v >= 0, s"row ordinal must be non-negative: $v")
      val words = map.computeIfAbsent(v >>> 16,
        _ => new Array[Long](WordsPerContainer))
      val low = (v & 0xffff).toInt
      words(low >>> 6) |= (1L << (low & 63))
    }
    def result(): GraftBitmap = {
      val n = map.size()
      val keys = new Array[Long](n)
      val containers = new Array[AnyRef](n)
      val it = map.entrySet().iterator()
      var i = 0
      while (it.hasNext) {
        val e = it.next()
        keys(i) = e.getKey
        val words = e.getValue
        var card = 0
        words.foreach(w => card += java.lang.Long.bitCount(w))
        if (card < ArrayMax) {
          val a = new Array[Char](card)
          var j = 0; var low = 0
          while (low < BitsPerContainer) {
            if ((words(low >>> 6) & (1L << (low & 63))) != 0) {
              a(j) = low.toChar; j += 1
            }
            low += 1
          }
          containers(i) = a
        } else containers(i) = words
        i += 1
      }
      new GraftBitmap(keys, containers)
    }
  }
}
