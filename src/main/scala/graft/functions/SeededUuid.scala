package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.util.RandomUUIDGenerator
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Random v4 UUID strings, the same generator as Spark's `uuid()`
  * (seeded by `seed + partition index`), but the seed reaches generated
  * code through `references[]`, not the source text. Spark's codegen
  * cache is keyed by source text, so a caller that draws a fresh seed
  * per micro-batch still reuses the previous batch's compiled class;
  * `uuid()` inlines its seed and compiles again every batch.
  */
case class SeededUuid(seed: Long) extends LeafExpression with Nondeterministic {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def stateful: Boolean = true

  @transient private[this] var gen: RandomUUIDGenerator = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    gen = RandomUUIDGenerator(seed + partitionIndex)

  override protected def evalInternal(input: InternalRow): Any = gen.getNextUUIDUTF8String()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RandomUUIDGenerator].getName
    val seedRef = ctx.addReferenceObj("uuidSeed", java.lang.Long.valueOf(seed))
    val gen = ctx.addMutableState(cls, "uuidGen")
    ctx.addPartitionInitializationStatement(
      s"$gen = new $cls($seedRef.longValue() + partitionIndex);")
    ev.copy(code = code"final ${classOf[UTF8String].getName} ${ev.value} = $gen.getNextUUIDUTF8String();",
      isNull = FalseLiteral)
  }
}

object SeededUuid {
  def seeded_uuid(seed: Long): Column = ColumnBridge.column(SeededUuid(seed))
}
