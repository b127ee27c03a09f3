package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}

/** Max-cosine centroid assignment of one vector against the trained
  * IVF model in ONE compiled pass: struct(cell, best) where cell is
  * the argmax-cosine centroid id (tie → lowest id) and best its cosine
  * (zero/NULL-norm pairs take the −2.0 floor, replicating
  * `coalesce(cosine, -2.0)` + `desc_nulls_last`).
  *
  * Replaces the `array_max(array(struct(cosine(dot(lit(cv), v), …),
  * -id), …))` expression form, which was measured interpreted-slow and
  * allocation-heavy (nCells structs + one array allocated per row per
  * evaluation, and the whole tree re-evaluated by the
  * constraint-inferred `isnotnull(cell)` filter below every
  * assignment→centroid join: ~0.9 s of a 1.2 s residual-encode pass at
  * sf0.1 was this expression). The kernel computes the same floats in
  * the same order — dot = the [[DotProduct]] sequential fold over
  * min(len) elements, centroid norms the same driver-side fold as
  * `Similarity.l2norm`, cosine = dot/(cn·nrm) guarded by den ≠ 0 —
  * so assignments, `best` cosines, and the DuckDB oracle replay are
  * bit-identical to the expression form for every non-NaN cosine. The
  * kernel compares with IEEE `>`, while the expression form's struct
  * ordering is Spark's total order, where NaN is greatest: a NaN
  * cosine after the first centroid loses here and won there. Finite
  * vectors and centroids never produce one (den ≠ 0 guard).
  *
  * Null `v`/`nrm` replicates the expression form exactly: every
  * cosine NULLs out and coalesces to −2.0, so the max struct is
  * (−2.0, max nid) = the LOWEST centroid id, never a NULL row. An
  * empty centroid list has no answer and is rejected when the
  * expression is built. */
case class ArgmaxCell(left: Expression, right: Expression,
                      cents: Seq[(Long, Seq[Double])]) extends BinaryExpression {
  require(cents.nonEmpty, "ArgmaxCell needs at least one centroid")
  override def dataType: DataType = ArgmaxCell.schema
  override def nullable: Boolean = false

  @transient private lazy val ids: Array[Long] = cents.map(_._1).toArray
  @transient private lazy val cvs: Array[Array[Double]] = cents.map(_._2.toArray).toArray
  @transient private lazy val cns: Array[Double] = cvs.map { cv =>
    var acc = 0.0; var i = 0
    while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
    math.sqrt(acc)
  }

  def kernelNullable(a: Object, b: Object): InternalRow = {
    if (a == null || b == null) {
      var minId = ids(0); var t = 1
      while (t < ids.length) { if (ids(t) < minId) minId = ids(t); t += 1 }
      return new GenericInternalRow(Array[Any](minId, -2.0))
    }
    val v = a.asInstanceOf[ArrayData]
    val nrm = b.asInstanceOf[java.lang.Double].doubleValue()
    val nv = v.numElements()
    val x = new Array[Double](nv)
    var j = 0
    while (j < nv) { x(j) = v.getDouble(j); j += 1 }
    var bestA = 0.0; var bestN = 0L; var first = true
    var c = 0
    while (c < cvs.length) {
      val cv = cvs(c)
      val n = math.min(cv.length, nv)
      var acc = 0.0; var i = 0
      while (i < n) { acc += cv(i) * x(i); i += 1 }
      val den = cns(c) * nrm
      val acos = if (den != 0.0) acc / den else -2.0
      val nid = -ids(c)
      if (first || acos > bestA || (acos == bestA && nid > bestN)) {
        bestA = acos; bestN = nid; first = false
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](-bestN, bestA))
  }

  override def eval(input: InternalRow): Any =
    kernelNullable(left.eval(input).asInstanceOf[Object],
      right.eval(input).asInstanceOf[Object])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argmaxExpr", this, classOf[ArgmaxCell].getName)
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    ev.copy(code =
      code"""
         |${lg.code}
         |${rg.code}
         |InternalRow ${ev.value} = $ref.kernelNullable(
         |  ${lg.isNull} ? null : (Object) ${lg.value},
         |  ${rg.isNull} ? null : (Object) java.lang.Double.valueOf(${rg.value}));
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArgmaxCell = copy(left = newLeft, right = newRight)
}

object ArgmaxCell {
  val schema: StructType = new StructType()
    .add("cell", LongType, nullable = false)
    .add("best", DoubleType, nullable = false)

  def argmax_cell(v: Column, nrm: Column,
                  cents: Seq[(Long, Seq[Double])]): Column =
    ColumnBridge.column(ArgmaxCell(ColumnBridge.expression(v),
      ColumnBridge.expression(nrm), cents))
}
