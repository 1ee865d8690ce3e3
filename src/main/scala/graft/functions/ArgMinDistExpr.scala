package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Nearest-centroid id for IVF assignment and PQ block codes:
  * squared-euclidean to every centroid (double-widened sequential fold —
  * the same numerics as the codegen distance kernels), strict-`<`
  * replacement so ties keep the LOWER centroid id. Centroids ride as a
  * codegen reference object, so the generated code is one tight loop
  * regardless of `nlist` — the per-centroid struct-array formulation
  * this replaces grew the expression tree (and codegen size) linearly
  * with the centroid count.
  */
case class ArgMinDistExpr(child: Expression, centers: Array[Array[Float]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argmin_dist requires ARRAY<FLOAT>, got ${t.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmin_dist"
  override protected def withNewChildInternal(c: Expression): ArgMinDistExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      val n = math.min(v.numElements(), ctr.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = v.getFloat(i).toDouble - ctr(i).toDouble; s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cen = ctx.addReferenceObj("ivfCenters", centers, "float[][]")
      val c = ctx.freshName("c"); val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      s"""int $best = 0; double $bestD = Double.POSITIVE_INFINITY;
         |for (int $c = 0; $c < $cen.length; $c++) {
         |  int $n = java.lang.Math.min($a.numElements(), $cen[$c].length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = (double) $a.getFloat($i) - (double) $cen[$c][$i];
         |    $s += $d * $d;
         |  }
         |  if ($s < $bestD) { $bestD = $s; $best = $c; }
         |}
         |${ev.value} = $best;""".stripMargin
    })
}

object ArgMinDistExpr {
  def apply(vec: Column, centers: Array[Array[Float]]): Column =
    bridge.column(ArgMinDistExpr(bridge.expression(vec), centers))
}
