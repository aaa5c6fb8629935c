package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.types.DataType

/** A micro-batch's `current_timestamp()` / `localtimestamp()` /
  * `current_date()` whose generated code does not change from batch to
  * batch.
  *
  * A streaming query's analyzed plan carries `CurrentBatchTimestamp`,
  * and `IncrementalExecution` turns it into a fresh `Literal` on every
  * batch. Codegen writes that literal into the class body, so every
  * trigger's code text is new and Janino compiles it again, on the
  * driver and on the executor (whose tasks wait on the codegen cache's
  * lock meanwhile). This expression holds the same value
  * (`CurrentBatchTimestamp.toLiteral`: micros for timestamp and
  * timestamp_ntz, days for date) but reads it from the generated
  * class's `references` array, so the code text is the same on every
  * trigger and the codegen cache hits.
  *
  * Like the expression it replaces it is nondeterministic and not
  * foldable, so the optimizer moves it no further than it would move
  * `CurrentBatchTimestamp`.
  */
case class BatchTimestampExpr(value: Any, dataType: DataType)
    extends LeafExpression with Nondeterministic {

  override def nullable: Boolean = false

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("batchTimestamp", value, boxed)
    ev.copy(code = code"final $javaType ${ev.value} = $ref.${javaType}Value();",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "batch_timestamp"
}

object BatchTimestampExpr {
  def apply(ts: CurrentBatchTimestamp): BatchTimestampExpr = {
    val lit = ts.toLiteral
    BatchTimestampExpr(lit.value, lit.dataType)
  }
}

/** Swaps `CurrentBatchTimestamp` for [[BatchTimestampExpr]] in `Project`
  * lists. It runs in the optimizer, before `IncrementalExecution` turns
  * what is left into literals, so filters, joins and aggregates keep
  * Spark's literal and with it source pushdown and pruning. Batch
  * queries never carry `CurrentBatchTimestamp`, so it matches nothing
  * there. Injected by [[graft.GraftExtensions]].
  */
object BatchTimestampInProject extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(CURRENT_LIKE)) {
      case p: Project => p.transformExpressionsWithPruning(_.containsPattern(CURRENT_LIKE)) {
        case ts: CurrentBatchTimestamp => BatchTimestampExpr(ts)
      }
    }
}
