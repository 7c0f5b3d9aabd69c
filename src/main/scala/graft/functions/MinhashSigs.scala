package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** `minhash_sigs(h32arr)` → the full MinHash signature
  * `array<bigint>[numHashes]` with `sig[j] = min over h of (a(j)·h + b(j))
  * mod M31` — ONE unboxed pass over the reduced shingle hashes.
  *
  * Value-identical to the `array(array_min(transform(h32arr, h ->
  * (a_j·h + b_j) % M31)), ...)` projection it replaces (same int64-exact
  * affine math, same null contract: null elements are skipped, an
  * empty/all-null input yields null signature slots), but evaluated as a
  * single tight loop instead of `numHashes` interpreted higher-order
  * functions — the lambda-transform form boxes every element once per hash
  * function and allocates a scratch array per (row, hash), which profiled
  * as the dominant CPU cost of the q33 signature stage (r15 q33 profile:
  * 6.6 s CPU over 5 000 docs, ~16 M boxed longs per run). The oracle SQL
  * is unchanged — DuckDB keeps the `list_min(list_transform(...))`
  * rendering, which this expression reproduces bit-for-bit.
  */
case class MinhashSigsExpr(child: Expression, as: Array[Long], bs: Array[Long])
    extends UnaryExpression {

  // NOT nullIntolerant (r15 ADVICE): the replaced array(array_min(transform
  // (...))) projection mapped a NULL input ARRAY to an array of numHashes
  // NULL slots (each transform yields NULL, each array_min of NULL is NULL,
  // the outer array() is non-null) — and the DuckDB oracle keeps that
  // rendering. nullIntolerant would collapse it to a NULL signature and any
  // direct consumer of `sig` would diverge on null-text docs.
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sigs"

  /** The NULL-input rendering: one NULL per hash slot. */
  def allNullSlots(): ArrayData = new GenericArrayData(new Array[Any](as.length))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) allNullSlots() else evalArray(v.asInstanceOf[ArrayData])
  }

  def evalArray(arr: ArrayData): ArrayData = {
    val numHashes = as.length
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var sawValue = false
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        sawValue = true
        val h = arr.getLong(i)
        var j = 0
        while (j < numHashes) {
          // identical math to the transform lambda: (a_j*h + b_j) % M31 in
          // int64 (products stay under 2^62 for M31-reduced inputs, so this
          // is exact in any engine)
          val v = (as(j) * h + bs(j)) % Dedup31.M31
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!sawValue) {
      // array_min over an empty/all-null array is NULL — mirror it per slot
      new GenericArrayData(new Array[Any](numHashes))
    } else {
      val out = new Array[Any](numHashes)
      var j = 0
      while (j < numHashes) { out(j) = mins(j); j += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("minhashSigs", this,
      classOf[MinhashSigsExpr].getName)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = childGen.code + code"""
        |$javaType ${ev.value} = ${childGen.isNull} ?
        |  $ref.allNullSlots() : $ref.evalArray(${childGen.value});
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigsExpr =
    copy(child = newChild)
}

/** M31 constant shared with [[graft.operators.Dedup]] (kept here so the
  * expression has no operator-package dependency).
  */
object Dedup31 {
  val M31 = 2147483647L
}

object MinhashSigsExpr {
  /** Column builder: signature over `h32arr` with per-hash affine
    * coefficients `(as(j), bs(j))`.
    */
  def sigs(h32arr: Column, as: Array[Long], bs: Array[Long]): Column =
    ColumnShim.column(MinhashSigsExpr(ColumnShim.expression(h32arr), as, bs))
}
