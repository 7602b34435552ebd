package graft.agg

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType,
  StructField, StructType}

/** A fixed-width counter vector as ONE aggregate: `slots` LongType buffer
  * slots, started at zero and merged slot by slot with `Math.addExact`
  * (so an overflow throws, as ANSI `sum` does). Every buffer slot is a
  * mutable fixed-width UnsafeRow field, so the planner keeps the aggregate
  * in `HashAggregateExec` (partial + final around one exchange) — never
  * `ObjectHashAggregate`, which turns into a sort after 128 keys per task.
  * The plan carries one aggregate expression instead of `slots` scalar
  * ones; the price is that the aggregate runs interpreted
  * (`ImperativeAggregate` is a `CodegenFallback`). */
abstract class LongSlots extends ImperativeAggregate with UnaryLike[Expression] {
  protected def slots: Int

  override def nullable: Boolean = false

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq.tabulate(slots)(i =>
      AttributeReference(s"${prettyName}_$i", LongType, nullable = false)())
  override lazy val aggBufferSchema: StructType =
    StructType(aggBufferAttributes.map(a => StructField(a.name, LongType, nullable = false)))
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  override def initialize(buf: InternalRow): Unit = {
    var i = 0
    while (i < slots) { buf.setLong(mutableAggBufferOffset + i, 0L); i += 1 }
  }

  override def merge(buf: InternalRow, in: InternalRow): Unit = {
    var i = 0
    while (i < slots) { add(buf, i, in.getLong(inputAggBufferOffset + i)); i += 1 }
  }

  protected final def add(buf: InternalRow, slot: Int, v: Long): Unit = {
    val o = mutableAggBufferOffset + slot
    buf.setLong(o, Math.addExact(buf.getLong(o), v))
  }

  protected final def get(buf: InternalRow, slot: Int): Long =
    buf.getLong(mutableAggBufferOffset + slot)
}

object LongSlots {
  /** The aggregate Column of `agg`. */
  def column(agg: LongSlots): Column =
    GraftBridge.column(agg.toAggregateExpression())
}

/** Rows per level over an int `res` child: slot r counts the rows with
  * `res == r` for r in 0..[[LevelCounts.MaxRes]], the last slot counts the
  * rows outside that range; a null `res` is counted nowhere. Output
  * `array<bigint>` of MaxRes + 2 non-null counts. */
case class LevelCounts(child: Expression, mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0) extends LongSlots {
  import LevelCounts.MaxRes
  protected def slots: Int = MaxRes + 2

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "level_counts"

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val v = child.eval(input)
    if (v != null) {
      val r = v.asInstanceOf[Int]
      add(buf, if (r >= 0 && r <= MaxRes) r else MaxRes + 1, 1L)
    }
  }

  override def eval(buf: InternalRow): Any =
    new GenericArrayData(Array.tabulate(slots)(get(buf, _)))

  override def withNewMutableAggBufferOffset(o: Int): LevelCounts =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LevelCounts =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): LevelCounts =
    copy(child = c)
}

object LevelCounts {
  /** Highest level with its own slot (0..30 spans every strategy: quadkey
    * uses 0..16, S2 levels reach 30). */
  val MaxRes = 30

  /** Aggregate Column: `res` column -> per-level row counts. */
  def of(res: Column): Column =
    LongSlots.column(LevelCounts(GraftBridge.expression(res.cast(IntegerType))))

  /** The non-zero levels of a [[LevelCounts]] result, or None when some
    * rows lie outside 0..MaxRes. */
  def toMap(counts: Seq[Long]): Option[Map[Int, Long]] =
    if (counts(MaxRes + 1) != 0L) None
    else Some((0 to MaxRes).collect { case r if counts(r) > 0 => r -> counts(r) }.toMap)
}
