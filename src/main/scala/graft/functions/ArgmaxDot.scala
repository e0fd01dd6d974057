package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst argmax-over-a-packed-matrix expressions — the codegen'd
  * replacement for the `crossJoin(broadcast(candidates)) -> score ->
  * groupBy(row).agg(max_by(id, struct(score, -id)))` quantizer-assignment
  * shape that dominates every IVF/PQ index build.
  *
  * The join+agg form is correct and partial-aggregates map-side, but it
  * MATERIALIZES one joined row per (input row x candidate) through the
  * codegen pipeline: at the 2M-vector / 16-subspace / 256-codeword PQ
  * encode that is n*subs*256 = 8.2 BILLION row iterations (hash-probe +
  * copy + partial-agg update each) for what is arithmetically a 256-way
  * loop per input row. These expressions run that loop INSIDE one
  * whole-stage-codegen'd expression eval: the plan becomes a broadcast
  * join against ONE packed row per key (or a literal) followed by a
  * map-side projection — no scored-row materialization, no aggregate, no
  * exchange. Measured on the SF100 build
  * (PERF_NOTES_r12.md): the encode stage collapses from the dominant term
  * to scan-speed.
  *
  * Packing convention: `mat` is the candidate vectors concatenated in
  * ASCENDING candidate-id order (`flatten(transform(array_sort(
  * collect_list(struct(id, vec))), x -> x.vec))`), so candidate `c`
  * occupies slots [c*dim, (c+1)*dim). The expression returns the 0-BASED
  * position of the best candidate (callers map position -> id with
  * `element_at(ids_arr, pos + 1)`), or null when no candidate has a valid
  * score.
  *
  * Parity with the max_by form (pinned by ArgmaxSpec):
  *  - scores accumulate in ascending element order with the same IEEE op
  *    sequence as [[DotProduct]] / [[CosineSim]], so per-candidate score
  *    doubles are bit-identical to the join form's;
  *  - ties resolve to the FIRST (lowest-position == lowest-id) candidate,
  *    exactly `max_by(id, struct(score, -id))`'s max-score-then-min-id;
  *  - a candidate whose score is null (zero-norm, for the cosine variant)
  *    is skipped, like max_by skipping null orderings; all-null -> null.
  *  - KNOWN DIVERGENCE: a NaN score loses here (IEEE compare) but ranks
  *    GREATEST in max_by's ordering. NaN requires non-finite inputs —
  *    impossible for the finite corpora these serve — and is documented
  *    rather than paid for with a per-candidate branch.
  */
trait ArgmaxBase { self: Expression =>

  protected def vec: Expression
  protected def mat: Expression

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  protected def arrOk(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  protected def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  protected def get(e: Expression, a: ArrayData, i: Int): Double =
    if (isFloat(e)) a.getFloat(i).toDouble else a.getDouble(i)

  protected def genGet(e: Expression, a: String, i: String): String =
    if (isFloat(e)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
}

/** `argmax_dot(v, mat, bias)`: position c maximizing
  * `dot(v, mat[c*dim ..]) - bias[c]` — the PQ codeword-fit dual
  * (min L2 error == max (dot - ||c||^2/2) over candidates; the bias array
  * is the precomputed ||c||^2/2 per codeword). nCand = |bias|;
  * requires |mat| == nCand * |v|, else null. Any null element -> null
  * (these are dense build-side arrays by construction). */
case class ArgmaxDot(vec: Expression, mat: Expression, bias: Expression)
    extends TernaryExpression with ArgmaxBase {

  override def first: Expression = vec
  override def second: Expression = mat
  override def third: Expression = bias
  override def prettyName: String = "argmax_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    if (arrOk(vec) && arrOk(mat) && arrOk(bias)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires three array<float>/array<double> arguments, got " +
        s"${vec.dataType.catalogString}, ${mat.dataType.catalogString}, " +
        s"${bias.dataType.catalogString}")

  override protected def nullSafeEval(v: Any, m: Any, b: Any): Any = {
    val va = v.asInstanceOf[ArrayData]
    val ma = m.asInstanceOf[ArrayData]
    val ba = b.asInstanceOf[ArrayData]
    val dim = va.numElements()
    val nCand = ba.numElements()
    if (dim == 0 || ma.numElements() != nCand * dim) return null
    var best = -1
    var bestScore = 0.0
    var c = 0
    while (c < nCand) {
      if (ba.isNullAt(c)) return null
      var dot = 0.0
      var d = 0
      while (d < dim) {
        if (va.isNullAt(d) || ma.isNullAt(c * dim + d)) return null
        dot += get(vec, va, d) * get(mat, ma, c * dim + d)
        d += 1
      }
      val score = dot - get(bias, ba, c)
      if (best < 0 || score > bestScore) { best = c; bestScore = score }
      c += 1
    }
    if (best < 0) null else best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m, b) => {
      val dim = ctx.freshName("dim"); val nc = ctx.freshName("nc")
      val c = ctx.freshName("c"); val d = ctx.freshName("d")
      val dot = ctx.freshName("dot"); val score = ctx.freshName("score")
      val best = ctx.freshName("best"); val bestScore = ctx.freshName("bestScore")
      val off = ctx.freshName("off")
      s"""
         |int $dim = $v.numElements();
         |int $nc = $b.numElements();
         |if ($dim == 0 || $m.numElements() != $nc * $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $best = -1;
         |  double $bestScore = 0.0;
         |  for (int $c = 0; $c < $nc && !${ev.isNull}; $c++) {
         |    if ($b.isNullAt($c)) { ${ev.isNull} = true; break; }
         |    double $dot = 0.0;
         |    int $off = $c * $dim;
         |    for (int $d = 0; $d < $dim; $d++) {
         |      if ($v.isNullAt($d) || $m.isNullAt($off + $d)) { ${ev.isNull} = true; break; }
         |      $dot += (${genGet(vec, v, d)}) * (${genGet(mat, m, s"$off + $d")});
         |    }
         |    if (${ev.isNull}) break;
         |    double $score = $dot - (${genGet(bias, b, c)});
         |    if ($best < 0 || $score > $bestScore) { $best = $c; $bestScore = $score; }
         |  }
         |  if (!${ev.isNull}) {
         |    if ($best < 0) { ${ev.isNull} = true; } else { ${ev.value} = $best; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): ArgmaxDot =
    copy(vec = newFirst, mat = newSecond, bias = newThird)
}

/** `argmax_cosine(v, mat)`: position c maximizing
  * `cosine_sim(v, mat[c*dim ..])` with [[CosineSim]]'s exact op order
  * (dot / (sqrt(nv) * sqrt(nc)) accumulated ascending), so the chosen
  * position is bit-identical to the `max_by(id, struct(cosine_sim(...),
  * -id))` join form. Zero-norm candidates score null and are skipped
  * (max_by's null-ordering rule); a zero-norm input vector or no valid
  * candidate -> null. |mat| must be a non-zero multiple of |v|, else
  * null. */
case class ArgmaxCosine(vec: Expression, mat: Expression)
    extends BinaryExpression with ArgmaxBase {

  override def left: Expression = vec
  override def right: Expression = mat
  override def prettyName: String = "argmax_cosine"

  override def checkInputDataTypes(): TypeCheckResult =
    if (arrOk(vec) && arrOk(mat)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float>/array<double> arguments, got " +
        s"${vec.dataType.catalogString} and ${mat.dataType.catalogString}")

  override protected def nullSafeEval(v: Any, m: Any): Any = {
    val va = v.asInstanceOf[ArrayData]
    val ma = m.asInstanceOf[ArrayData]
    val dim = va.numElements()
    if (dim == 0 || ma.numElements() % dim != 0) return null
    val nCand = ma.numElements() / dim
    var nv = 0.0
    var d = 0
    while (d < dim) {
      if (va.isNullAt(d)) return null
      val x = get(vec, va, d)
      nv += x * x
      d += 1
    }
    if (nv == 0.0) return null
    var best = -1
    var bestScore = 0.0
    var c = 0
    while (c < nCand) {
      var dot = 0.0; var nc = 0.0
      d = 0
      while (d < dim) {
        if (ma.isNullAt(c * dim + d)) return null
        val x = get(vec, va, d)
        val y = get(mat, ma, c * dim + d)
        dot += x * y; nc += y * y
        d += 1
      }
      if (nc != 0.0) {
        val score = dot / (math.sqrt(nv) * math.sqrt(nc))
        if (best < 0 || score > bestScore) { best = c; bestScore = score }
      }
      c += 1
    }
    if (best < 0) null else best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) => {
      val dim = ctx.freshName("dim"); val ncand = ctx.freshName("ncand")
      val c = ctx.freshName("c"); val d = ctx.freshName("d")
      val dot = ctx.freshName("dot"); val score = ctx.freshName("score")
      val nv = ctx.freshName("nv"); val nc = ctx.freshName("nc")
      val best = ctx.freshName("best"); val bestScore = ctx.freshName("bestScore")
      val off = ctx.freshName("off")
      s"""
         |int $dim = $v.numElements();
         |if ($dim == 0 || $m.numElements() % $dim != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $ncand = $m.numElements() / $dim;
         |  double $nv = 0.0;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    if ($v.isNullAt($d)) { ${ev.isNull} = true; break; }
         |    double x = ${genGet(vec, v, d)};
         |    $nv += x * x;
         |  }
         |  if (!${ev.isNull} && $nv == 0.0) ${ev.isNull} = true;
         |  if (!${ev.isNull}) {
         |    int $best = -1;
         |    double $bestScore = 0.0;
         |    for (int $c = 0; $c < $ncand && !${ev.isNull}; $c++) {
         |      double $dot = 0.0, $nc = 0.0;
         |      int $off = $c * $dim;
         |      for (int $d = 0; $d < $dim; $d++) {
         |        if ($m.isNullAt($off + $d)) { ${ev.isNull} = true; break; }
         |        double x = ${genGet(vec, v, d)};
         |        double y = ${genGet(mat, m, s"$off + $d")};
         |        $dot += x * y; $nc += y * y;
         |      }
         |      if (${ev.isNull}) break;
         |      if ($nc != 0.0) {
         |        double $score = $dot / (java.lang.Math.sqrt($nv) * java.lang.Math.sqrt($nc));
         |        if ($best < 0 || $score > $bestScore) { $best = $c; $bestScore = $score; }
         |      }
         |    }
         |    if (!${ev.isNull}) {
         |      if ($best < 0) { ${ev.isNull} = true; } else { ${ev.value} = $best; }
         |    }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgmaxCosine =
    copy(vec = newLeft, mat = newRight)
}

object ArgmaxDot {
  /** Register `argmax_dot` + `argmax_cosine` for SQL text / expr(...).
    * Idempotent. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmax_dot", exprs => ArgmaxDot(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmax_cosine", exprs => ArgmaxCosine(exprs(0), exprs(1)), "built-in")
  }
}
