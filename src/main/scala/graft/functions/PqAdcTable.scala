package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native ADC table builder: quantized probe vector (`array<long>`,
  * length m·dsub) × codebook literal (m×k×dsub) → the m×k table of
  * integer subspace distances `dt[j][c] = ‖q_subj − c_jc‖²`
  * (`array<array<long>>`).
  *
  * Same rationale as [[PqEncode]]: the HOF form interprets m·k·dsub
  * catalyst nodes per row. For e7/e9 the table is built once per PROBE
  * (tolerable), but e10's residual formulation builds one table per
  * (probe, cell) — nprobe× more rows — and at the 8-bit k=256 codebooks
  * the interpreted cost showed up directly in the bench (e10 0.56 →
  * 1.29 s at sf0.1). The fused loop is the identical integer
  * arithmetic, so ADC distances — and the e7/e9/e10 hash gates — are
  * unchanged.
  */
case class PqAdcTable(vec: Expression, cbExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = cbExpr

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, cbExpr.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(ArrayType(LongType, _), _), _))
          if cbExpr.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "pq_adc_table needs (array<long>, foldable array<array<array<long>>>), got " +
            s"${vec.dataType} / ${cbExpr.dataType} (foldable=${cbExpr.foldable})")
    }

  @transient private lazy val cb: Array[Array[Array[Long]]] = {
    val ad = cbExpr.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { j =>
      val aj = ad.getArray(j)
      Array.tabulate(aj.numElements())(c => aj.getArray(c).toLongArray())
    }
  }

  private def table(q: Array[Long]): GenericArrayData = {
    val m = cb.length
    val dsub = q.length / m
    val rows = new Array[Any](m)
    var j = 0
    while (j < m) {
      val cbj = cb(j)
      val row = new Array[Long](cbj.length)
      var c = 0
      while (c < cbj.length) {
        val cc = cbj(c)
        var dist = 0L
        var i = 0
        while (i < dsub) { val t = q(j * dsub + i) - cc(i); dist += t * t; i += 1 }
        row(c) = dist
        c += 1
      }
      rows(j) = new GenericArrayData(row)
      j += 1
    }
    new GenericArrayData(rows)
  }

  override def nullSafeEval(v: Any, b: Any): Any =
    table(v.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val cbRef = ctx.addReferenceObj("pqCodebook", cb, "long[][][]")
      val q = ctx.freshName("q")
      val rows = ctx.freshName("rows")
      val row = ctx.freshName("row")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val dist = ctx.freshName("dist")
      val t = ctx.freshName("t")
      val cbj = ctx.freshName("cbj")
      val cc = ctx.freshName("cc")
      val dsub = ctx.freshName("dsub")
      s"""
         |long[] $q = $a.toLongArray();
         |int $dsub = $q.length / $cbRef.length;
         |Object[] $rows = new Object[$cbRef.length];
         |for (int $j = 0; $j < $cbRef.length; $j++) {
         |  long[][] $cbj = $cbRef[$j];
         |  long[] $row = new long[$cbj.length];
         |  for (int $c = 0; $c < $cbj.length; $c++) {
         |    long[] $cc = $cbj[$c];
         |    long $dist = 0L;
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      long $t = $q[$j * $dsub + $i] - $cc[$i];
         |      $dist += $t * $t;
         |    }
         |    $row[$c] = $dist;
         |  }
         |  $rows[$j] = new org.apache.spark.sql.catalyst.util.GenericArrayData($row);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcTable =
    copy(vec = newLeft, cbExpr = newRight)
}

object PqAdcTable {

  /** Column-API surface. */
  def adcTable(vec: Column, codebook: Column): Column =
    org.apache.spark.sql.functions.call_function("pq_adc_table", vec, codebook)
}
