package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, TimestampType}

/** `wall_clock()`: the executor's clock when the row is evaluated, in
  * microseconds. Unlike `current_timestamp()` — one value folded into
  * the plan when it is optimized, which a streaming query does at the
  * START of each trigger — this is read per row inside the task, so on
  * top of a sink's write it stamps when the row is written. */
case class WallClockNow() extends LeafExpression with Nondeterministic {
  override def prettyName: String = "wall_clock"
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false

  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = WallClock.nowMicros()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ev.copy(code = code"final long ${ev.value} = graft.functions.WallClock.nowMicros();",
      isNull = FalseLiteral)
}

object WallClock {
  def nowMicros(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  import org.apache.spark.sql.{GraftColumnBridge => B}
  def wall_clock(): Column = B.column(WallClockNow())
}
