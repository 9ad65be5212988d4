package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ExpressionColumn
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Per-document sketches computed in a single pass over the shingle-hash
  * array (from [[ShingleHashes]]).
  *
  * The alternative — explode shingles, then groupBy(doc) with 128
  * min-aggregate columns (MinHash) or 64 sum columns (SimHash) — pays a
  * full shuffle plus a very wide aggregation buffer that overflows JIT
  * method limits. A document's shingle set is small and already
  * materialized per row, so the sketch is a narrow map-side computation:
  * zero shuffle, tight JVM loops, embarrassingly parallel at any scale.
  */
object Sketches {
  def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }
}

/** MinHash band signatures: numHashes minhashes (h_i(s) = fmix64(s ^
  * seed_i), a 64-bit bijection per seed — an ideal "permutation"),
  * grouped into bands of `bandRows` rows, each band folded to one
  * 64-bit value. Output: ARRAY<LONG> of numHashes/bandRows band keys. */
case class MinHashBands(child: Expression, numHashes: Int, bandRows: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val seeds: Array[Long] =
    (1 to numHashes).map(i => Sketches.fmix64(0x9E3779B97F4A7C15L * i)).toArray

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < m) {
      val s = arr.getLong(i)
      var j = 0
      while (j < numHashes) {
        val h = Sketches.fmix64(s ^ seeds(j))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    val nBands = numHashes / bandRows
    val bands = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var h = 0xcbf29ce484222325L ^ b
      var r = 0
      while (r < bandRows) {
        h = Sketches.fmix64(h ^ sig(b * bandRows + r)) * 0x100000001b3L
        r += 1
      }
      bands(b) = h
      b += 1
    }
    new GenericArrayData(bands)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash fingerprint of a shingle-hash array: per-bit ±1 votes
  * over the shingle hashes, sign → bit. */
case class SimHashFingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < m) {
      val s = arr.getLong(i)
      var j = 0
      while (j < 64) {
        if (((s >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** |A ∩ B| of two SORTED-ASCENDING distinct LONG arrays as one merge
  * pass over the primitive data — the exact-verification kernel of the
  * near-dup joins. `array_intersect` builds a per-row hash set (boxing
  * every element) and costs ~7µs per candidate pair; this merge is
  * ~100x cheaper, which is the difference between verification being
  * free and verification dominating the join (measured at sf0.1:
  * 409k candidates, 4.1s → under 0.3s). Both inputs MUST be sorted
  * ascending with no duplicates (see [[graft.operators.Dedup]]'s
  * shingle normalization) — unsorted input silently undercounts. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SketchExpressions {
  // built as Columns directly — no session function registration
  private def e(c: Column): Expression = ExpressionColumn.expression(c)

  def minhashBands(spark: SparkSession, sh: Column,
      numHashes: Int, bandRows: Int): Column =
    ExpressionColumn(MinHashBands(e(sh), numHashes, bandRows))

  def simhashFp(spark: SparkSession, sh: Column): Column =
    ExpressionColumn(SimHashFingerprint(e(sh)))

  def sortedIntersectSize(spark: SparkSession, a: Column, b: Column): Column =
    ExpressionColumn(SortedIntersectSize(e(a), e(b)))
}
