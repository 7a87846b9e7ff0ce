package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A commit's version stamp (the `_seq`/`_dseq` column of the files it
  * writes). Generated code reads the value from the plan's reference array
  * instead of inlining it as a literal: every commit stamps a new version,
  * and an inlined literal made every write compile its whole-stage classes
  * anew (a new source text misses Spark's compile cache). Not foldable, so
  * the optimizer cannot turn it back into a literal. */
case class CommitStamp(value: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_commit_stamp"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stamp", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}
