package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ExpressionColumn
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 64-bit hashes of the word k-shingles of a space-separated
  * text column, in one pass over the raw bytes.
  *
  * Replaces the interpreted HOF pipeline
  * (split → transform(sequence, slice, concat_ws) → array_distinct →
  * xxhash64), which costs ~0.8 ms/doc interpreted and gets recomputed
  * once per consumer of the shingle set. This expression is ~100x
  * cheaper: token boundaries are scanned once and each shingle is
  * hashed directly from its byte range (identical bytes to the
  * single-space joined shingle string on single-space tokenized text —
  * the documents fixture and any normalized corpus).
  *
  * Only set semantics matter downstream (Jaccard counts, MinHash,
  * SimHash), so the hash only needs to be collision-resistant:
  * FNV-1a 64 + murmur finalizer.
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    // token start/end offsets (single-space separated)
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    // exact string_split(text, ' ') semantics, including empty tokens
    // from leading/trailing/double spaces (i == n starts the trailing
    // empty token when the text ends with a space)
    while (i <= n) {
      if (i == 0 || bytes(i - 1) == ' ') {
        var j = i
        while (j < n && bytes(j) != ' ') j += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = i; ends(nTok) = j; nTok += 1
        i = j + 1
      } else i += 1
    }
    if (nTok < k) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long](nTok * 2)
    val out = new Array[Long](nTok - k + 1)
    var m = 0
    var t = 0
    while (t <= nTok - k) {
      val from = starts(t); val to = ends(t + k - 1)
      var h = 0xcbf29ce484222325L
      var p = from
      while (p < to) { h ^= (bytes(p) & 0xFFL); h *= 0x100000001b3L; p += 1 }
      val hv = fmix64(h)
      if (seen.add(hv)) { out(m) = hv; m += 1 }
      t += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  // built as a Column directly — no session function registration
  def shingleHashes(spark: SparkSession, text: Column, k: Int): Column =
    ExpressionColumn(ShingleHashes(ExpressionColumn.expression(text), k))
}
