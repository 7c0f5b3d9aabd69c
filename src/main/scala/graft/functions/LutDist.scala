package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** `lut_codes_dist(lut, codes)` → Σ_s lut[s][codes[s]] — the per-pair ADC
  * score as a Catalyst expression: the join-formulated reference that
  * [[MultiTopK.Lut]] scoring is pinned against (SpannSpec, PQSpec).
  *
  * Value-identical to the Scala-UDF form it replaces (same left-to-right
  * double sum over the same entries), but reads the `ArrayData` buffers
  * directly: the UDF deserialized the per-query LUT into a boxed
  * `Seq[Seq[Double]]` once per (query, vector) PAIR — at the sf0.1 ADC scan
  * that is 30 M nested-Seq materializations per run, which profiled as the
  * dominant cost of every quantized-search query. Inputs are non-null by
  * construction (both derive from non-null projections); a null input yields
  * null (the UDF form would have NPE'd — unreachable either way).
  */
case class LutCodesDistExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "lut_codes_dist"

  override def nullSafeEval(lutAny: Any, codesAny: Any): Any = {
    val lut = lutAny.asInstanceOf[ArrayData]
    val codes = codesAny.asInstanceOf[ArrayData]
    var s = 0
    var total = 0.0
    val m = codes.numElements()
    while (s < m) {
      total += lut.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val tot = ctx.freshName("tot")
      s"""
         |int $m = $codes.numElements();
         |double $tot = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  $tot += $lut.getArray($s).getDouble($codes.getInt($s));
         |}
         |${ev.value} = $tot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LutCodesDistExpr =
    copy(left = newLeft, right = newRight)
}

object LutCodesDistExpr {
  def apply(lut: Column, codes: Column): Column =
    ColumnShim.column(
      new LutCodesDistExpr(ColumnShim.expression(lut), ColumnShim.expression(codes)))
}

/** `rvq_lut_dist(lut, codes1, codes2)` → Σ_s lut[s][codes1[s]·n2(s) +
  * codes2[s]] — the two-level (RVQ) ADC scoring kernel of
  * [[PQ.rvqSearch]] as an expression; `n2` is the per-subspace level-2
  * codebook size (the LUT's inner stride), baked in at plan time exactly as
  * the UDF read it from the broadcast codebooks. Same double sum, no boxed
  * Seqs per pair.
  */
case class RvqLutDistExpr(
    first: Expression,
    second: Expression,
    third: Expression,
    n2: Array[Int])
    extends TernaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "rvq_lut_dist"

  override def nullSafeEval(lutAny: Any, c1Any: Any, c2Any: Any): Any = {
    val lut = lutAny.asInstanceOf[ArrayData]
    val c1 = c1Any.asInstanceOf[ArrayData]
    val c2 = c2Any.asInstanceOf[ArrayData]
    var s = 0
    var total = 0.0
    val m = c1.numElements()
    while (s < m) {
      total += lut.getArray(s).getDouble(c1.getInt(s) * n2(s) + c2.getInt(s))
      s += 1
    }
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, c1, c2) => {
      val ref = ctx.addReferenceObj("rvqN2", n2, "int[]")
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val tot = ctx.freshName("tot")
      s"""
         |int $m = $c1.numElements();
         |double $tot = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  $tot += $lut.getArray($s).getDouble($c1.getInt($s) * $ref[$s] + $c2.getInt($s));
         |}
         |${ev.value} = $tot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): RvqLutDistExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RvqLutDistExpr {
  def apply(lut: Column, codes1: Column, codes2: Column, n2: Array[Int]): Column =
    ColumnShim.column(new RvqLutDistExpr(
      ColumnShim.expression(lut), ColumnShim.expression(codes1),
      ColumnShim.expression(codes2), n2))
}
