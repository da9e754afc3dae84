package graft.catalyst

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `weighted_ks(ska, skb)` over two `kmv_values`-shaped weighted samples
  * (arrays of structs carrying `v` BIGINT value and `m` BIGINT mass) —
  * the whole per-pair two-sample KS computation as ONE compiled
  * sort-merge sweep, returning
  * `struct<k_a, k_b, mass_a, mass_b, wks_e6, ks_e6>`.
  *
  * Replaces the interpreted HOF chain (`weightedKsFromSamplePairsBuiltin`,
  * kept as the spec twin): that form
  * evaluates `jumps × (filter + aggregate)` lambdas per pair — ~130k
  * interpreted closure calls per k=128 pair, ~50M for a 20-type corpus
  * (190 pairs × 2 statistics) — where this sweep is two O(k log k)
  * sorts and one linear merge. The math is IDENTICAL by construction:
  * D = max over the distinct values of the UNION of both samples of the
  * integer micro-unit ECDF gap, each prefix evaluated after absorbing
  * every element ≤ t, every quotient `x * 10⁶ / denom` on non-negative
  * x exactly Spark's `div` (Java long division truncates toward zero ≡
  * floor on non-negatives ≡ the DuckDB oracle's `//`). Mass denominators
  * are `max(mass, 1)` (the HOF's `greatest(mass_a, 1)`), count
  * denominators the sample sizes. An EMPTY side — unreachable via the
  * report path, where every group keeps ≥ 1 row — yields null wks/ks
  * with the size/mass fields still populated (the HOF twin would
  * instead raise an ANSI division error on its k_a quotient there, or
  * read null under non-ANSI; the graceful null is this form's one
  * deliberate divergence on an input the pipeline cannot produce).
  *
  * The struct fields are resolved BY NAME (`v`, `m`), so the expression
  * accepts the (h, v, m) weighted sample as well as any projection that
  * keeps those two fields. */
case class WeightedKs(left: Expression, right: Expression)
    extends BinaryExpression {

  private def vmOrdinals(t: DataType): Option[(Int, Int)] = t match {
    case ArrayType(s: StructType, _) =>
      val v = s.fieldNames.indexOf("v")
      val m = s.fieldNames.indexOf("m")
      if (v >= 0 && m >= 0 && s(v).dataType == LongType &&
        s(m).dataType == LongType) Some((v, m))
      else None
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (vmOrdinals(left.dataType), vmOrdinals(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "weighted_ks requires two array<struct<..., v: bigint, m: " +
          s"bigint>> arguments, got ${left.dataType.simpleString} and " +
          right.dataType.simpleString)
    }

  override def dataType: DataType = StructType(Seq(
    StructField("k_a", LongType, nullable = false),
    StructField("k_b", LongType, nullable = false),
    StructField("mass_a", LongType, nullable = false),
    StructField("mass_b", LongType, nullable = false),
    StructField("wks_e6", LongType, nullable = true),
    StructField("ks_e6", LongType, nullable = true)))

  override def prettyName: String = "weighted_ks"

  @transient private lazy val (vOrdA, mOrdA) = vmOrdinals(left.dataType).get
  @transient private lazy val (vOrdB, mOrdB) = vmOrdinals(right.dataType).get
  @transient private lazy val nFieldsA =
    left.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].length
  @transient private lazy val nFieldsB =
    right.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].length

  /** (values ascending, masses co-sorted) of one sample side. */
  private def extractSorted(arr: ArrayData, nFields: Int, vOrd: Int,
      mOrd: Int): (Array[Long], Array[Long]) = {
    val n = arr.numElements()
    val v = new Array[Long](n)
    val m = new Array[Long](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, nFields)
      v(i) = row.getLong(vOrd)
      m(i) = row.getLong(mOrd)
      i += 1
    }
    // co-sort by value; equal values may carry distinct masses, and any
    // permutation of an equal-value block leaves every prefix evaluated
    // AT a distinct value unchanged, so an index sort by v alone is exact
    val idx = Array.range(0, n).sortBy(v)
    (idx.map(v), idx.map(m))
  }

  def compute(a: ArrayData, b: ArrayData): InternalRow = {
    val (va, ma) = extractSorted(a, nFieldsA, vOrdA, mOrdA)
    val (vb, mb) = extractSorted(b, nFieldsB, vOrdB, mOrdB)
    val ka = va.length.toLong
    val kb = vb.length.toLong
    var massA = 0L
    var massB = 0L
    var i = 0
    while (i < va.length) { massA += ma(i); i += 1 }
    i = 0
    while (i < vb.length) { massB += mb(i); i += 1 }
    val out = new Array[Any](6)
    out(0) = ka; out(1) = kb; out(2) = massA; out(3) = massB
    if (ka == 0L || kb == 0L) {
      out(4) = null; out(5) = null // the HOF's array_max over no jumps
      return new GenericInternalRow(out)
    }
    val dmA = math.max(massA, 1L)
    val dmB = math.max(massB, 1L)
    var ia = 0
    var ib = 0
    var cumMa = 0L
    var cumMb = 0L
    var cntA = 0L
    var cntB = 0L
    var wks = 0L
    var ks = 0L
    while (ia < va.length || ib < vb.length) {
      // next distinct union value
      val t =
        if (ib >= vb.length || (ia < va.length && va(ia) <= vb(ib))) va(ia)
        else vb(ib)
      while (ia < va.length && va(ia) == t) {
        cumMa += ma(ia); cntA += 1L; ia += 1
      }
      while (ib < vb.length && vb(ib) == t) {
        cumMb += mb(ib); cntB += 1L; ib += 1
      }
      val dw = math.abs(cumMa * 1000000L / dmA - cumMb * 1000000L / dmB)
      if (dw > wks) wks = dw
      val dk = math.abs(cntA * 1000000L / ka - cntB * 1000000L / kb)
      if (dk > ks) ks = dk
    }
    out(4) = wks; out(5) = ks
    new GenericInternalRow(out)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("weightedKs", this,
      classOf[WeightedKs].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WeightedKs =
    copy(left = newLeft, right = newRight)
}
