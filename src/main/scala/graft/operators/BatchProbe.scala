package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InSet, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.plans.logical.LocalLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The batch-probe route of the incremental audits
  * ([[SetSimJoin.incrementalJaccardPairs]],
  * [[SetSimJoin.incrementalContainmentPairs]],
  * [[Dedup.incrementalNearDupPairs]]). A batch that fits the session's
  * broadcast bound is collected to the driver once and shipped to the
  * stored side's scan as plan constants; each stored row then probes
  * the batch in-row, so the audit's plan is one narrow scan with no
  * exchange. On small batches the fixed cost per query, per stage and
  * per exchange is the audit's whole cost (measured on
  * `incremental_refresh`: 21 and 13 jobs for a 60-document batch on the
  * exchange plans), so the small side travels to the large side's scan
  * instead of both being exchanged.
  *
  * A plan constant costs no job, where a broadcast of a local relation still
  * runs one (measured on Spark 4.1: a 60-row `broadcast(local)` join ran
  * 2 jobs). Every driver collect here is capped per partition.
  */
private[graft] object BatchProbe {

  /** The session's broadcast bound in bytes, when `df`'s planned bytes
    * are known and fit it: the planner's own broadcast signal, read with
    * no job, taken before a batch is collected. None when broadcasts are
    * off, which keeps every audit on its exchange plan. */
  def plannedBound(df: DataFrame): Option[Long] =
    Some(df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
      .filter(b => b >= 0 && graft.plans.Lineage.estimateBytes(df).exists(_ <= b))

  /** The rows of `df`, at most `perPartition` from each partition, in
    * one job. A plain `limit(n).collect()` runs a job per round of
    * partitions it scans until it has n rows; a per-partition limit
    * scans each partition once. */
  def collectCapped(df: DataFrame, perPartition: Long): Array[Row] =
    GraftColumnBridge.ofRows(df.sparkSession,
      LocalLimit(Literal(math.min(perPartition, Int.MaxValue.toLong).toInt),
        df.queryExecution.logical)).collect()

  /** The Scala value `v` (Seqs, Maps and Rows nested as `dt` says) as a
    * constant of the plan ([[BatchData]]). */
  def data(v: Any, dt: DataType): Column =
    GraftColumnBridge.column(BatchData(Literal.create(v, dt).value, dt))

  /** A constant that prints as its type and size. A `Literal` prints its
    * whole value, and Spark prints every executed plan (the SQL
    * execution's plan description, each adaptive re-plan): measured on
    * `q_incremental_neardup` at sf0.1, a batch of a few thousand
    * documents spent most of its driver time rendering literals. Equal
    * by reference, so plan rules never hash or compare the value. */
  private final case class BatchData(value: Any, dataType: DataType)
      extends LeafExpression {
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = value
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      ExprCode.forNonNullValue(JavaCode.global(
        ctx.addReferenceObj("batchData", value, CodeGenerator.javaType(dataType)),
        dataType))
    override def toString: String = value match {
      case a: ArrayData => s"batch_data(${a.numElements()} x ${dataType.simpleString.take(40)})"
      case _ => s"batch_data(${dataType.simpleString.take(40)})"
    }
    override def equals(o: Any): Boolean = o match {
      case b: BatchData => (b.value.asInstanceOf[AnyRef] eq value.asInstanceOf[AnyRef]) &&
        b.dataType == dataType
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(value)
  }

  /** `c IN values` for values of type `dt`, built as one `InSet` with no
    * `Column` per value (each `Column` records its call site). */
  def isIn(c: Column, values: Iterable[Any], dt: DataType): Column =
    GraftColumnBridge.column(InSet(GraftColumnBridge.expression(c.cast(dt)),
      values.iterator.map(v => Literal.create(v, dt).value).toSet))

  /** Token and id types the driver can key a map by value. */
  def keyable(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** A hash-bucketed constant map: bucket `pmod(hash, width)` of an
    * array holds a small map of the keys with that hash. `element_at`
    * on a map compares keys one by one (the [[SetSimJoin.ProbeBuckets]]
    * lesson), while an array element is one index, so a lookup costs
    * one index plus a map of about two keys. */
  final class Index(buckets: Column, width: Long) {
    /** The value under `key` (whose hash is `hash`, computed the way
      * the index's entries were), or null. */
    def lookup(hash: Column, key: Column): Column =
      try_element_at(
        element_at(buckets, (pmod(hash, lit(width)) + 1).cast("int")), key)
  }

  /** An [[Index]] of `entries` (hash, key, value), keys distinct. */
  def index(entries: Seq[(Long, Any, Any)], keyType: DataType,
            valueType: DataType): Index = {
    val width = math.max(1, Integer.highestOneBit(math.max(1, entries.size / 2)))
    val maps = entries.groupBy(e => Math.floorMod(e._1, width.toLong).toInt)
    new Index(data(
      (0 until width).map(b => maps.getOrElse(b, Nil).map(e => e._2 -> e._3).toMap),
      ArrayType(MapType(keyType, valueType))), width.toLong)
  }
}
