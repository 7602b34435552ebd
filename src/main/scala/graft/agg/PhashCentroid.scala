package graft.agg

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Per-tile phash "centroid" — the graft of the reference's cluster-summary
  * embedding (kmeans centroid as parent embedding,
  * raptor/kmeans_tree_builder.py:103,138-143): a bit-majority vote over the
  * 64 phash bits of all LEAF images under a tile.
  *
  * Majority-of-majorities is not a majority, so the pyramid carries the
  * partial state — a 65-slot count vector (ones-count per bit + total n) —
  * between levels and collapses it to the centroid hash per level. That makes
  * the rollup associative (partial + final == single pass from leaves), which
  * is exactly what Spark's partial aggregation needs to keep the shuffle
  * map-side combinable at scale.
  *
  * The state is ONE fixed-width aggregate ([[LongSlots]]: [[PhashBits]] over
  * leaf phashes, [[PhashBitsMerge]] over child vectors), not 65 scalar
  * `sum` columns: its buffer is plain long slots, so it runs in
  * `HashAggregateExec` with partial + final steps and no sort fallback
  * (a typed `Aggregator` with an array buffer goes through
  * `ObjectHashAggregate`, which sorts after 128 keys per task), and the
  * plan holds one aggregate expression instead of 65, which cut planning
  * a two-level pyramid from 94-240 ms to 36-68 ms (local, sf0.001).
  * Both forms return exactly what the 65 `sum`s returned, nulls included
  * (S2PyramidSpec compares them with that reference).
  *
  * Centroid collapse rule: bit i set iff 2*ones(i) > n (strict; ties -> 0) —
  * deterministic, and reproducible in ANSI SQL for the DuckDB oracle.
  */
object PhashCentroid {

  /** Aggregate Column: leaf phash column -> 65-slot bits vector. */
  def bitsOf(phash: Column): Column =
    LongSlots.column(PhashBits(GraftBridge.expression(phash.cast(LongType))))

  /** Aggregate Column: child bits vectors -> parent bits vector. */
  def mergeBits(bits: Column): Column =
    LongSlots.column(PhashBitsMerge(GraftBridge.expression(
      bits.cast(ArrayType(LongType)))))

  /** Pure driver-side collapse (for tests). */
  def centroidOf(bits: Seq[Long]): Long = {
    val n = bits(64)
    var out = 0L
    var i = 0
    while (i < 64) { if (2 * bits(i) > n) out |= 1L << i; i += 1 }
    out
  }

  /** Codegen collapse kernel over the raw ArrayData (no per-element
    * boxing; Spark's `aggregate` HOF is interpreted CodegenFallback and
    * cost seconds per pyramid level on the tile rows). */
  def centroidOfBits(bits: ArrayData): Long = {
    val n = bits.getLong(64)
    var out = 0L
    var i = 0
    while (i < 64) { if (2 * bits.getLong(i) > n) out |= 1L << i; i += 1 }
    out
  }

  /** Column collapse of a 65-slot bits vector to the centroid hash —
    * a native codegen'd expression calling [[centroidOfBits]]. */
  def centroidCol(bits: String): Column =
    GraftBridge.column(
      CentroidFromBits(GraftBridge.expression(
        org.apache.spark.sql.functions.col(bits))))

  import org.apache.spark.sql.catalyst.expressions.UnaryExpression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  /** `CENTROID_FROM_BITS(bits) -> Long`: strict bit-majority collapse of
    * the 65-slot count vector (bit i set iff 2*ones(i) > n). */
  case class CentroidFromBits(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      centroidOfBits(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.agg.PhashCentroid.centroidOfBits($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
    override def prettyName: String = "centroid_from_bits"
  }

  /** The equivalent 64-term ANSI SQL (DuckDB oracle): bit-majority directly
    * over grouped leaf phashes. */
  def oracleCentroidSql(phashExpr: String): String =
    (0 until 64).map { i =>
      s"(CASE WHEN 2 * sum(($phashExpr >> $i) & 1) > count(*) " +
        s"THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " | ", ")")
}

/** Leaf form of the phash bit state over a long `phash` child, as the 65
  * `sum`s defined it: slots 0..63 are `sum((phash >> i) & 1)` (null when
  * the group has no non-null phash) and slot 64 is `count(*)`. Buffer: 64
  * ones-counts, the row count and the non-null count. */
case class PhashBits(child: Expression, mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0) extends LongSlots {
  protected def slots: Int = 66

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "phash_bits"

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    add(buf, 64, 1L)
    val v = child.eval(input)
    if (v != null) {
      var h = v.asInstanceOf[Long]
      while (h != 0L) { // one add per set bit
        add(buf, java.lang.Long.numberOfTrailingZeros(h), 1L)
        h &= h - 1
      }
      add(buf, 65, 1L)
    }
  }

  override def eval(buf: InternalRow): Any = {
    val out = new Array[Any](65)
    if (get(buf, 65) > 0L) { var i = 0; while (i < 64) { out(i) = get(buf, i); i += 1 } }
    out(64) = get(buf, 64)
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(o: Int): PhashBits =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PhashBits =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): PhashBits =
    copy(child = c)
}

/** Merge form: the slot-wise `sum` of 65-slot bits vectors, each slot with
  * `sum`'s null rule on its own — null iff no input had a non-null
  * element there (a null vector counts as all-null). Buffer: 65 sums and
  * 65 non-null counts. */
case class PhashBitsMerge(child: Expression, mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0) extends LongSlots {
  protected def slots: Int = 130

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "phash_bits_merge"

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      require(a.numElements() >= 65,
        s"phash bits vector has ${a.numElements()} slots, want 65")
      var i = 0
      while (i < 65) {
        if (!a.isNullAt(i)) { add(buf, i, a.getLong(i)); add(buf, 65 + i, 1L) }
        i += 1
      }
    }
  }

  override def eval(buf: InternalRow): Any =
    new GenericArrayData(Array.tabulate[Any](65)(i =>
      if (get(buf, 65 + i) > 0L) get(buf, i) else null))

  override def withNewMutableAggBufferOffset(o: Int): PhashBitsMerge =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PhashBitsMerge =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): PhashBitsMerge =
    copy(child = c)
}
