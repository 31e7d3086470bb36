package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Product-quantization kernels (graft.similarity.Pq), as fused
  * codegen'd expressions — the two inner loops of IVF-PQ-style ANN
  * (Jégou et al., TPAMI 2011):
  *
  *  - [[PqEncode]]: vector -> m code indices (argmin centroid per
  *    subspace, on the L2-normalized vector). Runs ONCE per base row
  *    at index-build time.
  *  - [[PqAdc]]: asymmetric-distance lookup — codes x per-query
  *    table -> one double (sum of m table entries). Runs once per
  *    (query, base) pair, replacing an O(d) float dot product with
  *    O(m) lookups; this is the expression the whole PQ design
  *    exists to make cheap.
  *
  * Both register through GraftExtensions like every other engine
  * expression, with the driver-fitted codebook passed as a FOLDABLE
  * array<float> argument: the builder evaluates the literal at
  * resolution time into plain constructor data (the same
  * constants-ship-with-the-plan design as ivfTopK's centroid
  * literals), and the codebook reaches generated code via
  * `ctx.addReferenceObj` — never re-evaluated per row.
  */
case class PqEncode(
    child: Expression, cb: IndexedSeq[Float], m: Int, k: Int, dsub: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  // wrong-width vectors encode as null rather than garbage codes
  override def nullable: Boolean = true

  // the codebook field is an IndexedSeq so case-class equality is
  // STRUCTURAL (a raw Array compares by reference, which would defeat
  // subexpression elimination / plan canonicalization for repeated
  // pq_encode calls); the primitive array both execution paths index
  // is derived once per task
  @transient private lazy val cbArr: Array[Float] = cb.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (PqEncode.invalid(v, m * dsub)) return null
    val codes = PqEncode.encode(v, cbArr, m, k, dsub)
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cbRef = ctx.addReferenceObj("pqCb", cbArr, "float[]")
      s"""
         |if (graft.plans.PqEncode.invalid($v, ${m * dsub})) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] codes = graft.plans.PqEncode.encode($v, $cbRef, $m, $k, $dsub);
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(codes);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  /** Registry builder: (vec, cbLiteral, m, k, dsub) with the last
    * four FOLDABLE — evaluated once at resolution into constructor
    * data. Argument types are validated here (the builder runs before
    * checkInputDataTypes can), accepting float/double codebooks and
    * int/long scalars so SQL-typed literals don't ClassCastException. */
  def fromChildren(ch: Seq[Expression]): PqEncode = {
    require(ch.length == 5,
      "pq_encode(vec, codebook, m, k, dsub) expects 5 arguments")
    require(ch.drop(1).forall(_.foldable),
      "pq_encode codebook/m/k/dsub must be literals")
    val cb = ch(1).dataType match {
      case ArrayType(FloatType, _) =>
        ch(1).eval().asInstanceOf[ArrayData].toFloatArray().toIndexedSeq
      case ArrayType(DoubleType, _) =>
        ch(1).eval().asInstanceOf[ArrayData].toDoubleArray()
          .map(_.toFloat).toIndexedSeq
      case other => throw new IllegalArgumentException(
        s"pq_encode codebook must be array<float|double>, got ${other.simpleString}")
    }
    def intArg(i: Int, name: String): Int = ch(i).eval() match {
      case v: Int => v
      case v: Long => v.toInt
      case v: Short => v.toInt
      case other => throw new IllegalArgumentException(
        s"pq_encode $name must be an integer literal, got $other")
    }
    PqEncode(ch(0), cb, intArg(2, "m"), intArg(3, "k"), intArg(4, "dsub"))
  }

  /** True when a vector cannot encode or table-build: wrong width,
    * or ANY null element — the input type may carry
    * containsNull=true, and a raw getFloat on a null slot would
    * silently read 0.0 into the math (the same policy PqAdc applies
    * to null codes, but here the whole vector nulls out: a vector
    * with a missing coordinate has no well-defined neighbors). */
  def invalid(v: ArrayData, d: Int): Boolean = {
    if (v.numElements() != d) return true
    var i = 0
    while (i < d) {
      if (v.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** One implementation for BOTH execution paths (interpreted eval
    * and generated code call the same static kernel), so bit parity
    * between them is by construction. Normalizes to unit length
    * (cosine metric — fit runs on unit vectors too), then per
    * subspace takes the argmin-squared-distance centroid; ties and
    * NaN distances resolve to the lowest index, deterministically. */
  def encode(v: ArrayData, cb: Array[Float], m: Int, k: Int, dsub: Int): Array[Int] = {
    val d = m * dsub
    var nrm = 0.0
    var i = 0
    while (i < d) { val x = v.getFloat(i).toDouble; nrm += x * x; i += 1 }
    nrm = math.sqrt(nrm)
    val inv = if (nrm > 0) 1.0 / nrm else 0.0
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < k) {
        var s = 0.0
        val off = (j * k + c) * dsub
        var t = 0
        while (t < dsub) {
          val diff = v.getFloat(j * dsub + t) * inv - cb(off + t)
          s += diff * diff
          t += 1
        }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }
}

/** Sum of per-subspace table lookups: `table[j*k + codes[j]]` over
  * j = 0..m-1 (m inferred from the codes array). Out-of-range codes
  * (possible only if codes and table come from different codebook
  * shapes) and null elements contribute 0 rather than reading
  * garbage. */
case class PqAdc(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc expects (array<int> codes, array<float> table), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqAdc.score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.PqAdc.score($a, $b, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object PqAdc {

  /** The one eval kernel, shared by the interpreted and the generated
    * path: sum of `table[j*k + codes[j]]` in j order. A null element
    * (the input type may carry containsNull=true) contributes 0 — the
    * same policy as an out-of-range code; getInt on a null slot would
    * silently read 0 and score centroid 0 instead. */
  def score(codes: ArrayData, table: ArrayData, k: Int): Double = {
    var acc = 0.0
    var j = 0
    val m = codes.numElements()
    val n = table.numElements()
    while (j < m) {
      if (!codes.isNullAt(j)) {
        val c = codes.getInt(j)
        val idx = j * k + c
        if (c >= 0 && c < k && idx < n)
          acc += table.getFloat(idx).toDouble
      }
      j += 1
    }
    acc
  }

  /** Registry builder: (codes, table, kLiteral). */
  def fromChildren(ch: Seq[Expression]): PqAdc = {
    require(ch.length == 3, "pq_adc(codes, table, k) expects 3 arguments")
    require(ch(2).foldable, "pq_adc k must be a literal")
    val k = ch(2).eval() match {
      case v: Int => v
      case v: Long => v.toInt
      case v: Short => v.toInt
      case other => throw new IllegalArgumentException(
        s"pq_adc k must be an integer literal, got $other")
    }
    PqAdc(ch(0), ch(1), k)
  }
}

/** Per-query ADC lookup table, computed DISTRIBUTED: entry (j, c) is
  * the dot product of the unit-normalized query's subspace j with
  * centroid c, so summing m [[PqAdc]] lookups reconstructs
  * query·(reconstructed base). This is the expression that removes
  * the one driver-side materialization PQ search used to need — the
  * query frame keeps arbitrary size because its tables are built
  * row-local on executors, exactly like [[PqEncode]] builds base
  * codes. Wrong-width, null, or null-element vectors yield null
  * (they have no well-defined neighbors; the caller filters them
  * out). */
case class PqAdcTable(
    child: Expression, cb: IndexedSeq[Float], m: Int, k: Int, dsub: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_table expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "pq_adc_table"
  override def nullable: Boolean = true

  @transient private lazy val cbArr: Array[Float] = cb.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (PqEncode.invalid(v, m * dsub)) return null
    new GenericArrayData(PqAdcTable.table(v, cbArr, m, k, dsub))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cbRef = ctx.addReferenceObj("pqCb", cbArr, "float[]")
      s"""
         |if (graft.plans.PqEncode.invalid($v, ${m * dsub})) {
         |  ${ev.isNull} = true;
         |} else {
         |  float[] tab = graft.plans.PqAdcTable.table($v, $cbRef, $m, $k, $dsub);
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(tab);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

object PqAdcTable {
  /** Registry builder: (qvec, cbLiteral, m, k, dsub) — same literal
    * contract as [[PqEncode.fromChildren]]. */
  def fromChildren(ch: Seq[Expression]): PqAdcTable = {
    require(ch.length == 5,
      "pq_adc_table(vec, codebook, m, k, dsub) expects 5 arguments")
    require(ch.drop(1).forall(_.foldable),
      "pq_adc_table codebook/m/k/dsub must be literals")
    val cb = ch(1).dataType match {
      case ArrayType(FloatType, _) =>
        ch(1).eval().asInstanceOf[ArrayData].toFloatArray().toIndexedSeq
      case ArrayType(DoubleType, _) =>
        ch(1).eval().asInstanceOf[ArrayData].toDoubleArray()
          .map(_.toFloat).toIndexedSeq
      case other => throw new IllegalArgumentException(
        s"pq_adc_table codebook must be array<float|double>, got ${other.simpleString}")
    }
    def intArg(i: Int, name: String): Int = ch(i).eval() match {
      case v: Int => v
      case v: Long => v.toInt
      case v: Short => v.toInt
      case other => throw new IllegalArgumentException(
        s"pq_adc_table $name must be an integer literal, got $other")
    }
    PqAdcTable(ch(0), cb, intArg(2, "m"), intArg(3, "k"), intArg(4, "dsub"))
  }

  /** One static kernel for both execution paths (bit parity by
    * construction) — the same math as the former driver-side table
    * builder, which now survives only as a test reference. */
  def table(v: ArrayData, cb: Array[Float], m: Int, k: Int, dsub: Int): Array[Float] = {
    val d = m * dsub
    var nrm = 0.0
    var i = 0
    while (i < d) { val x = v.getFloat(i).toDouble; nrm += x * x; i += 1 }
    val inv = if (nrm > 0) 1.0 / math.sqrt(nrm) else 0.0
    val out = new Array[Float](m * k)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < k) {
        var s = 0.0
        var t = 0
        while (t < dsub) {
          s += v.getFloat(j * dsub + t) * inv * cb((j * k + c) * dsub + t)
          t += 1
        }
        out(j * k + c) = s.toFloat
        c += 1
      }
      j += 1
    }
    out
  }
}
