package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types._

/** Codegen'd vector arithmetic for embedding columns.
  *
  * `array_dot(a, b)` is a native Catalyst expression with `doGenCode` —
  * a tight primitive loop inside whole-stage codegen, reading float or
  * double arrays directly (no `transform(cast)` materialization, no
  * boxed lambdas). The fold is left-to-right with a double accumulator,
  * bit-identical to the previous `aggregate(zip_with(...))` formulation
  * and to DuckDB's `list_sum(list_transform(...))` — so oracle
  * hash-compares are unaffected.
  *
  * This is the (b) tier of the custom-operator preference order
  * (compose built-ins < custom Expression < custom physical operator):
  * the built-ins express the semantics but evaluate lambdas per element;
  * the expression compiles to a scalar loop.

  *
  * The ANN hot path runs on the same tier: `binary_sign_words`,
  * `hamming_words`, `sq_dist`, `nearest_cell`, `nearest_cells` and
  * `adc_sum` each call one static kernel ([[AnnKernels]]) from both the
  * interpreted eval and the generated code, with the summation order,
  * SQL tie ordering, nulls and ANSI failures of the built-in
  * formulations they replaced, so every oracle still matches bit for
  * bit. Those formulations failed in two measured ways. Higher-order
  * functions (`transform`/`aggregate`/`zip_with`) are
  * `CodegenFallback`: each element runs an interpreted lambda. And an
  * inlined expression tree as large as the 64-term `CASE WHEN` sign
  * packing, sitting on the stream side of a broadcast-nested-loop
  * join, is deferred by whole-stage codegen into the join's pair loop
  * (re-evaluated once per pair) and pushes the generated method past
  * the JVM's 8,000-byte huge-method limit, so the JIT never compiles
  * it. A kernel call is a few bytes of generated code and one tight
  * loop per row.
  */
object VectorExpressions {

  case class ArrayDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType

    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(e: Expression) = e.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (ok(left) && ok(right))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"array_dot expects array<float|double>, got ${left.dataType} / ${right.dataType}")
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      val aFloat = elemType(left) == FloatType
      val bFloat = elemType(right) == FloatType
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
        i += 1
      }
      java.lang.Double.valueOf(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val aGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      val bGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
      // fresh names: two array_dot calls in one codegen function (e.g.
      // l2Norm(a) alongside arrayDot(a, b)) must not redeclare locals —
      // a collision aborts whole-stage codegen for the entire plan
      val n = ctx.freshName("adN")
      val s = ctx.freshName("adS")
      val i = ctx.freshName("adI")
      nullSafeCodeGen(ctx, ev, (a, b) => {
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (double) $a.$aGet($i) * (double) $b.$bGet($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "array_dot"
  }

  def arrayDot(a: Column, b: Column): Column = toColumn(ArrayDot(exprOf(a), exprOf(b)))

  /** L2 norm via the same codegen'd loop. */
  def l2Norm(a: Column): Column = sqrt(arrayDot(a, a))

  /** Signed fast Walsh–Hadamard transform — the O(d log d) execution of
    * the OPQ structured rotation y = (1/√d)·H·D·x
    * (`SimilaritySearch.opqRotate` documents the semantics; this is the
    * codegen'd upgrade path that scaladoc promises for 100 TB).
    *
    * The butterfly network computes the SAME y_j = Σ_i
    * (-1)^popcount(i AND j)·s_i·x_i, just associated differently —
    * mathematically identical, floating-point results differ from the
    * naive O(d²) fold only in final ulps. Both the interpreted eval and
    * the generated code call ONE static kernel ([[FwhtRotate.kernel]]),
    * so the two execution paths are bit-identical to each other by
    * construction, and the oracle replays the identical stage/op order
    * in SQL (`SketchOracleSql.opqFwhtCtes`).
    *
    * Cost per row: d·log2(d) adds vs d² multiply-adds — at d=1024 that
    * is ~100× fewer flops, and the loop runs inside whole-stage codegen
    * instead of a `CodegenFallback` higher-order-function tree.
    */
  case class FwhtRotate(child: Expression, signs: Seq[Double])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _)
          if signs.nonEmpty && (signs.length & (signs.length - 1)) == 0 =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"fwht_rotate: dim ${signs.length} is not a power of two")
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"fwht_rotate expects array<float|double>, got $other")
      }

    @transient private lazy val signArr: Array[Double] = signs.toArray
    private def isFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val k = FwhtKernel.instance
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        k.kernel(k.toDoubles(a, isFloat), signArr))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val signsRef = ctx.addReferenceObj("fwhtSigns", signArr, "double[]")
      val kernelRef = ctx.addReferenceObj("fwhtKernel", FwhtKernel.instance,
        "graft.functions.FwhtKernel")
      nullSafeCodeGen(ctx, ev, a => {
        s"""
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  $kernelRef.kernel($kernelRef.toDoubles($a, $isFloat), $signsRef));
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def prettyName: String = "fwht_rotate"
  }

  def fwhtRotate(a: Column, signs: Seq[Double]): Column =
    toColumn(FwhtRotate(exprOf(a), signs))

  /** A SEQUENCE of exact Householder reflections applied in one pass —
    * the learned-PCA rotation's execution tier. Composing reflections
    * as nested `zip_with(transform(...))` HOFs re-evaluates the inner
    * reflection once per outer reference (≈9 base-array evaluations per
    * row for two levels, re-paid in EVERY job of the IVF-PQ chain —
    * measured 11× on q_ann_pca2); this expression walks the chain once
    * per row through one static kernel shared by the interpreted eval
    * and the generated code, so the two paths are bit-identical by
    * construction and the arithmetic (index-order dot, one factor,
    * per-element subtract) matches both the HOF formulation it replaces
    * and the oracle's replay term for term.
    */
  case class HouseholderChain(child: Expression, us: Seq[Seq[Double]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _)
          if us.nonEmpty && us.forall(u => u.length == us.head.length &&
            u.exists(_ != 0.0)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            "householder_chain: reflection vectors must be non-empty, " +
              "equal-length and nonzero")
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"householder_chain expects array<float|double>, got $other")
      }

    @transient private lazy val uArrs: Array[Array[Double]] =
      us.map(_.toArray).toArray
    // integer-valued squares summed in doubles stay < 2^53: exact, and
    // identical to the driver-side Long sum the HOF formulation used
    @transient private lazy val uus: Array[Double] =
      uArrs.map(u => u.map(x => x * x).sum)
    private def isFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any = {
      val k = HouseholderKernel.instance
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        k.chain(k.toDoubles(input.asInstanceOf[ArrayData], isFloat),
          uArrs, uus))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val usRef = ctx.addReferenceObj("hhUs", uArrs, "double[][]")
      val uusRef = ctx.addReferenceObj("hhUus", uus, "double[]")
      val kernelRef = ctx.addReferenceObj("hhKernel", HouseholderKernel.instance,
        "graft.functions.HouseholderKernel")
      nullSafeCodeGen(ctx, ev, a => {
        s"""
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  $kernelRef.chain($kernelRef.toDoubles($a, $isFloat), $usRef, $uusRef));
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def prettyName: String = "householder_chain"
  }

  def householderChain(a: Column, us: Seq[Seq[Double]]): Column =
    toColumn(HouseholderChain(exprOf(a), us))

  /** Asymmetric binary score (Jégou et al.'s asymmetric-distance idea
    * applied to the 1-bit tier): the QUERY stays at full precision —
    * quantized to the SQ8 integer grid so the arithmetic is exact —
    * while the corpus side contributes only its packed sign words:
    * `Σ_i qq_i · (bit_i ? +1 : −1)`. Same storage as symmetric Hamming,
    * strictly more information used per comparison (Hamming collapses
    * the query to its signs too). One kernel pass per candidate pair,
    * shared by the interpreted eval and the generated code
    * (HouseholderChain's discipline); exact integer output (|qq| ≤ 127,
    * dim ≤ 4096 ⇒ |score| ≤ 520k), so ranking replays in the oracle
    * with zero float ambiguity.
    */
  case class BinaryAsymScore(left: Expression, right: Expression, dim: Int)
      extends BinaryExpression {
    require(dim >= 1 && dim <= 4096, s"dim $dim out of range (1..4096)")
    override def dataType: DataType = LongType

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(e: Expression) = e.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }
      if (ok(left) && ok(right))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"binary_asym_score expects (array<bigint> quantized query, " +
          s"array<bigint> packed sign words), got ${left.dataType} / ${right.dataType}")
    }

    override def nullSafeEval(q: Any, w: Any): Any =
      java.lang.Long.valueOf(BinaryAsymKernel.instance.score(
        q.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData], dim))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val kernelRef = ctx.addReferenceObj("asymKernel",
        BinaryAsymKernel.instance, "graft.functions.BinaryAsymKernel")
      nullSafeCodeGen(ctx, ev, (q, w) => {
        s"${ev.value} = $kernelRef.score($q, $w, $dim);"
      })
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): BinaryAsymScore =
      copy(left = l, right = r)
    override def prettyName: String = "binary_asym_score"
  }

  def binaryAsymScore(qq: Column, words: Column, dim: Int): Column =
    toColumn(BinaryAsymScore(exprOf(qq), exprOf(words), dim))

  /** Row-local unit normalization in ONE kernel pass. The HOF
    * formulation (`transform(e, x => x / sqrt(aggregate(e, …)))`)
    * re-evaluates the norm subexpression — and EVERYTHING beneath it —
    * once per element (dim × dim × child cost per row, measured 15×+
    * on the pca3 chain); this expression computes the norm once and
    * divides, through one static kernel shared by interpreted eval and
    * generated code, arithmetic identical to the HOF term for term
    * (left-to-right square fold from 0.0, Math.sqrt, per-element
    * divide).
    */
  case class UnitNorm(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"unit_norm expects array<float|double>, got $other")
      }

    private def isFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any = {
      val k = HouseholderKernel.instance
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        k.unit(k.toDoubles(input.asInstanceOf[ArrayData], isFloat)))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val kernelRef = ctx.addReferenceObj("unKernel", HouseholderKernel.instance,
        "graft.functions.HouseholderKernel")
      nullSafeCodeGen(ctx, ev, a => {
        s"""
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  $kernelRef.unit($kernelRef.toDoubles($a, $isFloat)));
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def prettyName: String = "unit_norm"
  }

  def unitNormalize(a: Column): Column = toColumn(UnitNorm(exprOf(a)))

  // ---------------------------------------------------------------- ANN kernels

  private def kernelRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("annKernel", AnnKernels.instance, "graft.functions.AnnKernels")

  private def arrayOf(t: DataType, elem: DataType*): Boolean = t match {
    case ArrayType(et, _) => elem.contains(et)
    case _ => false
  }

  private def arrayOf(e: Expression, elem: DataType*): Boolean = arrayOf(e.dataType, elem: _*)

  private def typeCheck(ok: Boolean, msg: => String): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess else TypeCheckResult.TypeCheckFailure(msg)

  /** 1-bit sign code of a float or double vector as packed 32-bit words
    * (`AnnKernels.signWords` has the contract): `dim` coordinates in
    * (dim + 31) / 32 longs, never null.
    */
  case class BinarySignWords(child: Expression, dim: Int,
      failOnError: Boolean = SQLConf.get.ansiEnabled)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(dim >= 1 && dim <= 4096, s"dim $dim out of range (1..4096)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false

    override def checkInputDataTypes(): TypeCheckResult =
      typeCheck(arrayOf(child, FloatType, DoubleType),
        s"binary_sign_words expects array<float|double>, got ${child.dataType}")

    private def isFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def eval(input: InternalRow): Any =
      AnnKernels.instance.signWords(child.eval(input).asInstanceOf[ArrayData],
        isFloat, dim, failOnError)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val v = child.genCode(ctx)
      ev.copy(code = code"""
        |${v.code}
        |${CodeGenerator.javaType(dataType)} ${ev.value} = ${kernelRef(ctx)}.signWords(
        |  ${v.isNull} ? null : ${v.value}, $isFloat, $dim, $failOnError);
      """.stripMargin, isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def prettyName: String = "binary_sign_words"
  }

  def binarySignWords(vec: Column, dim: Int): Column =
    toColumn(BinarySignWords(exprOf(vec), dim))

  /** Shared shape of the two zip-fold kernels: null when either side is
    * null, the lengths differ or an element is null
    * (`AnnKernels.zipDefined`), else the kernel's fold. Nullable even
    * over non-nullable children, which still differ in length.
    */
  abstract class ZipFold extends BinaryExpression {
    /** Element type of both arrays. */
    protected def elem: DataType
    /** The `AnnKernels` fold the generated code calls. */
    protected def method: String

    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult =
      typeCheck(arrayOf(left, elem) && arrayOf(right, elem),
        s"$prettyName expects array<${elem.simpleString}> twice, got " +
          s"${left.dataType} / ${right.dataType}")

    protected def fold(a: ArrayData, b: ArrayData): Any

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      if (AnnKernels.instance.zipDefined(a, b)) fold(a, b) else null
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val k = kernelRef(ctx)
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""
           |if ($k.zipDefined($a, $b)) {
           |  ${ev.value} = $k.$method($a, $b);
           |} else {
           |  ${ev.isNull} = true;
           |}
         """.stripMargin)
    }
  }

  /** Hamming distance between two packed sign codes: Σ bit_count(a ^ b). */
  case class HammingWords(left: Expression, right: Expression)
      extends ZipFold {
    protected def elem: DataType = LongType
    protected def method: String = "hamming"
    override def dataType: DataType = LongType
    protected def fold(a: ArrayData, b: ArrayData): Any =
      java.lang.Long.valueOf(AnnKernels.instance.hamming(a, b))
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
    override def prettyName: String = "hamming_words"
  }

  def hammingWords(a: Column, b: Column): Column =
    toColumn(HammingWords(exprOf(a), exprOf(b)))

  /** Squared L2 distance of two double vectors: Σ (a_i − b_i)², folded
    * left to right from 0.0.
    */
  case class SqDist(left: Expression, right: Expression)
      extends ZipFold {
    protected def elem: DataType = DoubleType
    protected def method: String = "sqDist"
    override def dataType: DataType = DoubleType
    protected def fold(a: ArrayData, b: ArrayData): Any =
      java.lang.Double.valueOf(AnnKernels.instance.sqDist(a, b))
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
    override def prettyName: String = "sq_dist"
  }

  def sqDist(a: Column, b: Column): Column = toColumn(SqDist(exprOf(a), exprOf(b)))

  /** Shared shape of the centroid-array kernels: `cents` is an
    * `array<struct<cell: bigint, ce: array<double>, …>>` (the broadcast
    * model row), `e` an `array<double>`. Neither side is null-safe — a
    * null `e` still ranks the cells (every d² is null) — so children are
    * evaluated and passed on as they are.
    */
  abstract class CellSearch extends BinaryExpression {
    private def fields: Option[StructType] = left.dataType match {
      case ArrayType(st: StructType, _) => Some(st)
      case _ => None
    }

    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = fields.exists(st =>
        st.fields.exists(f => f.name == "cell" && f.dataType == LongType) &&
          st.fields.exists(f => f.name == "ce" && arrayOf(f.dataType, DoubleType))) &&
        arrayOf(right, DoubleType)
      typeCheck(ok, s"$prettyName expects (array<struct<cell: bigint, " +
        s"ce: array<double>>>, array<double>), got ${left.dataType} / ${right.dataType}")
    }

    protected def nFields: Int = fields.get.length
    protected def cellOrd: Int = fields.get.fieldIndex("cell")
    protected def ceOrd: Int = fields.get.fieldIndex("ce")

    override def nullable: Boolean = true

    protected def search(cents: ArrayData, e: ArrayData): AnyRef
    /** Java source calling the kernel on (cents, e); null means null. */
    protected def searchCode(k: String, cents: String, e: String): String
    /** Java source of the result value from the kernel's non-null return. */
    protected def unbox(r: String): String = r

    override def eval(input: InternalRow): Any =
      search(left.eval(input).asInstanceOf[ArrayData],
        right.eval(input).asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = left.genCode(ctx)
      val e = right.genCode(ctx)
      val r = ctx.freshName("cellSearch")
      val boxed = CodeGenerator.boxedType(dataType)
      ev.copy(code = code"""
        |${c.code}
        |${e.code}
        |$boxed $r = ${searchCode(kernelRef(ctx),
          s"(${c.isNull} ? null : ${c.value})", s"(${e.isNull} ? null : ${e.value})")};
        |boolean ${ev.isNull} = $r == null;
        |${CodeGenerator.javaType(dataType)} ${ev.value} =
        |  ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : ${unbox(r)};
      """.stripMargin)
    }
  }

  /** The nearest centroid's cell: the least (d², cell) over `cents`. */
  case class NearestCell(left: Expression, right: Expression) extends CellSearch {
    override def dataType: DataType = LongType
    protected def search(cents: ArrayData, e: ArrayData): AnyRef =
      AnnKernels.instance.nearestCell(cents, e, nFields, cellOrd, ceOrd)
    protected def searchCode(k: String, cents: String, e: String): String =
      s"$k.nearestCell($cents, $e, $nFields, $cellOrd, $ceOrd)"
    override protected def unbox(r: String): String = s"$r.longValue()"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
    override def prettyName: String = "nearest_cell"
  }

  def nearestCell(cents: Column, e: Column): Column =
    toColumn(NearestCell(exprOf(cents), exprOf(e)))

  /** The `nProbe` nearest centroids as (d2, cell) structs, ascending. */
  case class NearestCells(left: Expression, right: Expression, nProbe: Int)
      extends CellSearch {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("d2", DoubleType), StructField("cell", LongType))),
      containsNull = false)
    protected def search(cents: ArrayData, e: ArrayData): AnyRef =
      AnnKernels.instance.nearestCells(cents, e, nProbe, nFields, cellOrd, ceOrd)
    protected def searchCode(k: String, cents: String, e: String): String =
      s"$k.nearestCells($cents, $e, $nProbe, $nFields, $cellOrd, $ceOrd)"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
    override def prettyName: String = "nearest_cells"
  }

  def nearestCells(cents: Column, e: Column, nProbe: Int): Column =
    toColumn(NearestCells(exprOf(cents), exprOf(e), nProbe))

  /** PQ asymmetric-distance lookup sum over `m` subspaces:
    * Σ_s dtabs[s][codes[s]] with 1-based `element_at` lookups,
    * left to right from 0.0 (`AnnKernels.adcSum` has the contract).
    */
  case class AdcSum(left: Expression, right: Expression, m: Int,
      failOnError: Boolean = SQLConf.get.ansiEnabled) extends BinaryExpression {
    require(m >= 1, s"adc_sum: m must be >= 1, got $m")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult =
      typeCheck(left.dataType.isInstanceOf[ArrayType] &&
        arrayOf(left.dataType.asInstanceOf[ArrayType].elementType, DoubleType) &&
        arrayOf(right, LongType),
        s"adc_sum expects (array<array<double>>, array<bigint>), got " +
          s"${left.dataType} / ${right.dataType}")

    override def eval(input: InternalRow): Any =
      AnnKernels.instance.adcSum(left.eval(input).asInstanceOf[ArrayData],
        right.eval(input).asInstanceOf[ArrayData], m, failOnError)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val t = left.genCode(ctx)
      val c = right.genCode(ctx)
      val r = ctx.freshName("adc")
      ev.copy(code = code"""
        |${t.code}
        |${c.code}
        |java.lang.Double $r = ${kernelRef(ctx)}.adcSum(
        |  ${t.isNull} ? null : ${t.value}, ${c.isNull} ? null : ${c.value}, $m, $failOnError);
        |boolean ${ev.isNull} = $r == null;
        |double ${ev.value} = ${ev.isNull} ? -1.0 : $r.doubleValue();
      """.stripMargin)
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
    override def prettyName: String = "adc_sum"
  }

  def adcSum(dtabs: Column, codes: Column, m: Int): Column =
    toColumn(AdcSum(exprOf(dtabs), exprOf(codes), m))
}
