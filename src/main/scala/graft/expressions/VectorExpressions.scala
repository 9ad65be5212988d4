package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ExpressionColumn
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd cosine similarity over two ARRAY<DOUBLE> columns.
  *
  * The interpreted alternative (zip_with + aggregate higher-order
  * functions) costs ~25x more per pair — over millions of candidate
  * pairs in a similarity join that dominates the query. This expression
  * compiles to a tight primitive loop inside whole-stage codegen.
  *
  * Accumulation order is left-to-right per accumulator, matching
  * DuckDB's list_dot_product fold, so
  *   dot/(sqrt(na)*sqrt(nb))
  * is bit-identical to the oracle's
  *   list_dot_product(a,b)/(sqrt(list_dot_product(a,a))*sqrt(list_dot_product(b,b))).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are always ARRAY<DOUBLE> at our call sites (cast upstream);
  // fail fast if not, rather than implementing ExpectsInputTypes
  // (AbstractDataType is private[sql])
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects ARRAY<DOUBLE> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double[] $y = $b.toDoubleArray();
         |int $n = Math.min($x.length, $y.length);
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $x[$i] * $y[$i];
         |  $na += $x[$i] * $x[$i];
         |  $nb += $y[$i] * $y[$i];
         |}
         |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd polynomial rolling hash over a string's bytes:
  * fold(h = (h*131 + byte) % 1e9+7). Identical to the interpreted
  * aggregate/substring/ascii formulation for ASCII text (the fixture),
  * ~15x faster — the fold runs as a primitive loop in generated code. */
case class RollingHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var h = 0L; var i = 0
    while (i < bytes.length) { h = (h * 131 + (bytes(i) & 0xFF)) % 1000000007L; i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = ctx.addNewFunction("graftRollingHash",
      s"""
         |private long graftRollingHash(org.apache.spark.unsafe.types.UTF8String s) {
         |  byte[] b = s.getBytes();
         |  long h = 0L;
         |  for (int i = 0; i < b.length; i++) {
         |    h = (h * 131 + (b[i] & 0xFF)) % 1000000007L;
         |  }
         |  return h;
         |}
       """.stripMargin)
    defineCodeGen(ctx, ev, c => s"$fn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd banded random-hyperplane LSH signature over ARRAY<DOUBLE>:
  * returns ARRAY<LONG> of `nBands` band keys, where band b's key packs
  * the sign bits of dot(v, plane) for its `rPlanes` hyperplanes.
  *
  * Hyperplane weights are deterministic ±1 signs drawn from an integer
  * mix of (planeIndex, dim) — the same generator as
  * [[graft.operators.Similarity.lshBucket]], but evaluated as one
  * primitive loop in generated code instead of `nBands*rPlanes`
  * interpreted zip_with/aggregate HOF trees (~25x per-row difference at
  * 256 planes x 64 dims; the signature pass is the O(n) half of an LSH
  * join, so it must stay cheap as the corpus scales). */
case class HyperplaneBands(child: Expression, nBands: Int, rPlanes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  // the ±1 signs depend only on (plane, dim), never on the row — mix
  // them once per operator instance and reuse across every row (the
  // inner loop drops from a 6-op integer mix per element to one byte
  // load). The cache tuple is (stride = dim the table was built for,
  // sign table indexed j*stride+d); a benign race can at worst
  // rebuild the same deterministic table.
  @transient private var signCache: (Int, Array[Byte]) = _

  /** (stride, table) from one consistent cache read. */
  private def signsFor(dim: Int): (Int, Array[Byte]) = {
    val cached = signCache
    if (cached != null && cached._1 >= dim) cached
    else {
      val total = nBands * rPlanes
      val s = new Array[Byte](total * dim)
      var j = 0
      while (j < total) {
        var d = 0
        while (d < dim) {
          var m = (j.toLong << 32) | d.toLong
          m ^= m >>> 33; m *= 0xff51afd7ed558ccdL
          m ^= m >>> 33; m *= 0xc4ceb9fe1a85ec53L
          m ^= m >>> 33
          s(j * dim + d) = if ((m & 1L) == 0L) 0 else 1
          d += 1
        }
        j += 1
      }
      val built = (dim, s)
      signCache = built
      built
    }
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData].toDoubleArray()
    val (dim, signs) = signsFor(x.length)
    val keys = new Array[Long](nBands)
    var j = 0
    while (j < nBands * rPlanes) {
      var dot = 0.0; var d = 0
      while (d < x.length) {
        dot += (if (signs(j * dim + d) == 0) x(d) else -x(d))
        d += 1
      }
      if (dot > 0) keys(j / rPlanes) |= (1L << (j % rPlanes))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signs = ctx.addMutableState("byte[]", "graftHpSigns")
    val signsDim = ctx.addMutableState("int", "graftHpSignsDim")
    val fn = ctx.addNewFunction("graftHyperplaneBands",
      s"""
         |private org.apache.spark.sql.catalyst.util.GenericArrayData
         |    graftHyperplaneBands(org.apache.spark.sql.catalyst.util.ArrayData arr) {
         |  double[] x = arr.toDoubleArray();
         |  if ($signs == null || $signsDim < x.length) {
         |    $signsDim = x.length;
         |    $signs = new byte[${nBands * rPlanes} * $signsDim];
         |    for (int j = 0; j < ${nBands * rPlanes}; j++) {
         |      for (int d = 0; d < $signsDim; d++) {
         |        long m = ((long) j << 32) | (long) d;
         |        m ^= m >>> 33; m *= 0xff51afd7ed558ccdL;
         |        m ^= m >>> 33; m *= 0xc4ceb9fe1a85ec53L;
         |        m ^= m >>> 33;
         |        $signs[j * $signsDim + d] = (byte) (((m & 1L) == 0L) ? 0 : 1);
         |      }
         |    }
         |  }
         |  long[] keys = new long[$nBands];
         |  for (int j = 0; j < ${nBands * rPlanes}; j++) {
         |    double dot = 0.0;
         |    int base = j * $signsDim;
         |    for (int d = 0; d < x.length; d++) {
         |      dot += ($signs[base + d] == 0) ? x[d] : -x[d];
         |    }
         |    if (dot > 0) keys[j / $rPlanes] |= (1L << (j % $rPlanes));
         |  }
         |  return new org.apache.spark.sql.catalyst.util.GenericArrayData(keys);
         |}
       """.stripMargin)
    defineCodeGen(ctx, ev, c => s"$fn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {

  // Columns are built from the expressions directly: a registry write
  // per call would log a WARN each time and mutate the function
  // registry every concurrent reader of the session shares
  private def e(c: Column): Expression = ExpressionColumn.expression(c)

  def cosineSim(spark: SparkSession, a: Column, b: Column): Column =
    ExpressionColumn(CosineSimilarity(e(a), e(b)))

  def rollingHash(spark: SparkSession, c: Column): Column =
    ExpressionColumn(RollingHash(e(c)))

  /** Banded LSH keys (the params are codegen'd constants, not runtime
    * arguments). */
  def hyperplaneBands(spark: SparkSession, v: Column,
      nBands: Int, rPlanes: Int): Column =
    ExpressionColumn(HyperplaneBands(e(v), nBands, rPlanes))
}
