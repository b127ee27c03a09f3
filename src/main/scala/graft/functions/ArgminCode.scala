package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Argmin-L2 PQ codeword for one (subspace, subvector) row in ONE
  * compiled pass: the code minimizing ‖x‖² − 2·x·c + ‖c‖² over the
  * subspace's codewords, tie → lowest code (the `min_by(code,
  * struct(dist, code))` rule). Replaces the broadcast join + hash
  * re-aggregation form, which fanned every subvector row out ×k
  * codewords (m·k·N joined rows carrying the sv array) and folded
  * them back through a min_by + first(sv) aggregation — one exchange
  * and a k× row stream that existed only to compute a per-row argmin.
  * The kernel computes the same floats in the same order — both
  * squared norms are the [[DotProduct]] sequential fold (the sv norm
  * recomputed internally, bit-identical to the subvectors frame's
  * sn2 column), dist = (sn2 − 2·dot) + cn2 with the same operand
  * order — so codes, and every trained codebook / ADC ranking built
  * from them, are bit-identical to the join form. The codebook covers
  * every subspace by construction, so a sub with no codebook entry is
  * a training bug: the kernel throws, naming the subspace, instead of
  * pushing a null code into the grouping and ADC joins downstream. */
case class ArgminCode(left: Expression, right: Expression,
                      codebook: Seq[(Int, Long, Seq[Double])])
    extends BinaryExpression {
  override def dataType: DataType = LongType

  // per-subspace codeword table: (code, cv, cn2) with cn2 the same
  // sequential self-dot fold as dot_product(cv, cv)
  @transient private lazy val table: Array[Array[(Long, Array[Double], Double)]] = {
    val maxSub = codebook.map(_._1).max
    val t = Array.fill(maxSub + 1)(Array.empty[(Long, Array[Double], Double)])
    codebook.groupBy(_._1).foreach { case (sub, rows) =>
      t(sub) = rows.map { case (_, code, cv) =>
        val a = cv.toArray
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i) * a(i); i += 1 }
        (code, a, acc)
      }.toArray
    }
    t
  }

  def kernel(sub: Int, sv: ArrayData): Long = {
    if (sub < 0 || sub >= table.length || table(sub).isEmpty)
      throw new IllegalStateException(s"ArgminCode: the codebook has no entry for subspace $sub")
    val nv = sv.numElements()
    val x = new Array[Double](nv)
    var j = 0
    while (j < nv) { x(j) = sv.getDouble(j); j += 1 }
    var sn2 = 0.0
    j = 0
    while (j < nv) { sn2 += x(j) * x(j); j += 1 }
    val cands = table(sub)
    var bestD = 0.0; var bestC = 0L; var first = true
    var c = 0
    while (c < cands.length) {
      val (code, cv, cn2) = cands(c)
      val n = math.min(cv.length, nv)
      var acc = 0.0; var i = 0
      while (i < n) { acc += x(i) * cv(i); i += 1 }
      val dist = (sn2 - 2.0 * acc) + cn2
      if (first || dist < bestD || (dist == bestD && code < bestC)) {
        bestD = dist; bestC = code; first = false
      }
      c += 1
    }
    bestC
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[Int], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argminExpr", this, classOf[ArgminCode].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArgminCode = copy(left = newLeft, right = newRight)
}

object ArgminCode {
  def argmin_code(sub: Column, sv: Column,
                  codebook: Seq[(Int, Long, Seq[Double])]): Column =
    ColumnBridge.column(ArgminCode(ColumnBridge.expression(sub),
      ColumnBridge.expression(sv), codebook))
}
