package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** long_set_contains(h) against a plan-constant [[GramProbe]]: the scalar
  * probe of the composed reference spelling
  * `exists(shingles(toks), g => long_set_contains(probe, xxhash64(g)))`
  * that OpsSpec checks [[AnyGramIn]] against.
  */
case class LongSetContains(child: Expression, probe: GramProbe)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "long_set_contains"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"long_set_contains expects BIGINT, got ${other.catalogString}")
  }

  override def nullSafeEval(h: Any): Any = probe.contains(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("longSet", probe, classOf[GramProbe].getName)
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $p.contains($h);")
  }

  override protected def withNewChildInternal(newChild: Expression): LongSetContains =
    copy(child = newChild)
}

object LongSetContains {
  /** Predicate column: BIGINT `h` is a member of `probe`. */
  def long_set_contains(probe: GramProbe, h: Column): Column =
    ColumnShim.column(LongSetContains(ColumnShim.expression(h), probe))
}
