package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `percolate_alerts(tk, qmap, avgdl)` — score one document's token
  * array against a compiled percolate registry fully in-row and return
  * the thresholded `array<struct<query_id, score>>` alert list.
  *
  * This expression is the round-18 fix for the measured
  * linear-in-registry probe cost of the HOF-based
  * [[graft.operators.Bm25.percolateJoin]] fold (BASELINE.md round 17:
  * 4,000 → 58 docs/s from 79k to 945k registered queries, bucket-count
  * hypothesis tested and rejected). The drill-down found TWO linear
  * terms, both killed here:
  *
  *  1. '''the CodegenFallback boundary tax''': higher-order functions
  *     (`transform`/`filter`/`aggregate`) have no `doGenCode`, so the
  *     projection evaluating them is excluded from whole-stage codegen
  *     — and the codegen stage BELOW it (scan → ×1-row broadcast join)
  *     must then emit full UnsafeRows, copying the entire multi-hundred
  *     MB `qmap` once per document row (measured directly: a trivial
  *     fallback HOF touching only the ≤1024 outer keys costs 2× a
  *     pure-codegen projection reading the same map). This expression
  *     IS codegen'd (`doGenCode` → one static kernel call), so the
  *     whole percolate plan fuses into a single codegen stage and the
  *     map is only ever ACCESSED as an UnsafeMapData view into the
  *     broadcast — never copied.
  *  2. '''linear map scans''': Catalyst's `element_at` on a MapType is
  *     a linear scan of the entry array, so the two-level radix probe
  *     costs ~B outer-int + ~terms/B inner-string comparisons per
  *     token — linear in registry size at EVERY bucket count (which is
  *     why rescaling B to 16384 measured parity). The kernel instead
  *     builds a tiny per-document bucket→position index (one pass over
  *     the ≤1024 outer entries) and BINARY-SEARCHES the inner token
  *     maps, whose entries [[graft.operators.Bm25]]'s compile fold now
  *     stores tok-sorted (registry layout v2) — O(log) per probe,
  *     ~flat in registry size.
  *
  * Scoring is bit-identical to the HOF fold (spec-pinned, and
  * transitively to the plan-literal [[graft.operators.Bm25.percolate]]
  * path): matches accumulate in (query-id-major, token-sorted) order
  * with the same double arithmetic, the per-query total is rounded via
  * the same HALF_UP decimal rule as Spark's `round(_, 6)`, and only
  * totals at or above `threshold` are emitted, in query-id order.
  *
  * Deterministic and stateless per row, so the streaming-legality of
  * the percolate plan (stream-static ×1-row join, no shuffle before
  * the sink) is unchanged.
  *
  * INPUT CONTRACT: `qmap` must come from this build's compile fold —
  * outer keys are `pmod(xxhash64(tok), B)` radix buckets and inner
  * entry arrays are sorted by token (binary UTF8 order). Stored
  * registries' manifest stamps are checked on load; every in-build producer
  * re-folds through the same code path.
  */
case class PercolateAlerts(
    first: Expression,  // tk: array<string>
    second: Expression, // qmap: map<int, map<string, array<struct<query_id, idf>>>>
    third: Expression,  // avgdl: double
    k1: Double,
    b: Double,
    threshold: Double) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val okTk = first.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val okMap = second.dataType match {
      case MapType(IntegerType,
        MapType(StringType, ArrayType(StructType(fs), _), _), _) =>
        fs.length == 2 && fs(0).dataType == LongType &&
          fs(1).dataType == DoubleType
      case _ => false
    }
    if (okTk && okMap && third.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "percolate_alerts requires (array<string>, map<int, map<string, " +
      "array<struct<query_id bigint, idf double>>>>, double), got " +
      s"(${first.dataType.sql}, ${second.dataType.sql}, " +
      s"${third.dataType.sql})")
  }

  override def dataType: DataType = PercolateAlerts.outputType

  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override protected def nullSafeEval(tk: Any, qmap: Any,
                                      avgdl: Any): Any =
    kernel(tk.asInstanceOf[ArrayData], qmap.asInstanceOf[MapData],
      avgdl.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // the kernel call is the ONLY generated statement — inputs arrive
    // as codegen variables (the qmap one an UnsafeMapData view into
    // the broadcast row), so no INPUT_ROW reconstruction and no map
    // copy happen anywhere in the stage
    val ref = ctx.addReferenceObj("percolateAlerts", this,
      classOf[PercolateAlerts].getName)
    nullSafeCodeGen(ctx, ev, (tkV, qmapV, avgdlV) =>
      s"${ev.value} = $ref.kernel($tkV, $qmapV, $avgdlV);")
  }

  /** The in-row scoring kernel. Public (not private[graft]) because
    * generated code calls it across a Janino classloader boundary.
    */
  def kernel(tk: ArrayData, qmap: MapData, avgdl: Double): ArrayData = {
    val nTok = tk.numElements()
    // size() semantics: dl counts ALL elements (nulls included), like
    // the HOF path's size(tk)
    val dl = nTok.toDouble
    val norm = k1 * (1.0 - b + b * dl / avgdl)

    // sorted distinct tokens + term frequencies in one sorted pass
    // (array_sort is binary UTF8 order = UTF8String.compareTo; null
    // tokens sort last in the HOF path and contribute no matches, so
    // skipping them preserves every other token's sort index)
    val toks = new Array[UTF8String](nTok)
    var n = 0
    var i = 0
    while (i < nTok) {
      if (!tk.isNullAt(i)) { toks(n) = tk.getUTF8String(i); n += 1 }
      i += 1
    }
    java.util.Arrays.sort(toks, 0, n,
      (a: UTF8String, c: UTF8String) => a.compareTo(c))

    // per-document outer-bucket index: one pass over the ≤B outer
    // entries buys O(1) bucket lookup per distinct token
    val outerKeys = qmap.keyArray()
    val outerVals = qmap.valueArray()
    val bucketPos = new Array[Int](PercolateAlerts.Buckets)
    java.util.Arrays.fill(bucketPos, -1)
    i = 0
    val nOuter = qmap.numElements()
    while (i < nOuter) {
      bucketPos(outerKeys.getInt(i)) = i
      i += 1
    }

    // probe: for each distinct token (sort index ti), binary-search the
    // bucket's tok-sorted inner map; collect (qid, ti, contribution)
    val mQid = new java.util.ArrayList[java.lang.Long]()
    val mTi = new java.util.ArrayList[java.lang.Integer]()
    val mS = new java.util.ArrayList[java.lang.Double]()
    var ti = 0
    i = 0
    while (i < n) {
      val tok = toks(i)
      // tf over the FULL token array, like size(filter(tk, _ === tok))
      var tf = 0
      var j = i
      while (j < n && toks(j).equals(tok)) { tf += 1; j += 1 }
      val h = XxHash64Function.hash(tok, StringType, 42L)
      val bucket = (((h % PercolateAlerts.Buckets) +
        PercolateAlerts.Buckets) % PercolateAlerts.Buckets).toInt
      val pos = bucketPos(bucket)
      if (pos >= 0) {
        val inner = outerVals.getMap(pos)
        val keys = inner.keyArray()
        var lo = 0
        var hi = inner.numElements() - 1
        var found = -1
        while (found < 0 && lo <= hi) {
          val mid = (lo + hi) >>> 1
          val c = keys.getUTF8String(mid).compareTo(tok)
          if (c == 0) found = mid
          else if (c < 0) lo = mid + 1
          else hi = mid - 1
        }
        if (found >= 0) {
          val entries = inner.valueArray().getArray(found)
          val tfD = tf.toDouble
          val num = tfD * (k1 + 1.0)
          val den = tfD + norm
          var e = 0
          val nE = entries.numElements()
          while (e < nE) {
            val row = entries.getStruct(e, 2)
            // exact HOF arithmetic order: idf * (tf*(k1+1)) / (tf+norm)
            mQid.add(row.getLong(0))
            mTi.add(ti)
            mS.add(row.getDouble(1) * num / den)
            e += 1
          }
        }
      }
      ti += 1
      i = j
    }

    // qid-major segment fold in (qid, ti) order — the HOF path's
    // array_sort(m) + aggregate, same double summation order
    val m = mQid.size()
    val order = new Array[Integer](m)
    i = 0
    while (i < m) { order(i) = i; i += 1 }
    java.util.Arrays.sort(order, (x: Integer, y: Integer) => {
      val c = java.lang.Long.compare(mQid.get(x), mQid.get(y))
      if (c != 0) c else java.lang.Integer.compare(mTi.get(x), mTi.get(y))
    })
    val out = new java.util.ArrayList[InternalRow]()
    def close(qid: Long, sum: Double): Unit = {
      val rounded = PercolateAlerts.round6(sum)
      if (rounded >= threshold)
        out.add(new GenericInternalRow(Array[Any](qid, rounded)))
    }
    var curQid = 0L
    var curSum = 0.0
    var open = false
    i = 0
    while (i < m) {
      val idx = order(i)
      val qid = mQid.get(idx)
      if (!open) { curQid = qid; curSum = mS.get(idx); open = true }
      else if (qid == curQid) curSum += mS.get(idx)
      else { close(curQid, curSum); curQid = qid; curSum = mS.get(idx) }
      i += 1
    }
    if (open) close(curQid, curSum)
    new GenericArrayData(out.toArray(new Array[InternalRow](out.size())))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): PercolateAlerts =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "percolate_alerts"
}

object PercolateAlerts {

  /** Must equal [[graft.operators.Bm25.PercolateBuckets]]; duplicated
    * as a plain constant so the kernel has no cross-object init cost.
    * A compile-time equality check lives in Bm25.
    */
  val Buckets: Int = 1024

  val outputType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  /** Spark's `round(col, 6)` rule for doubles: decimal HALF_UP over the
    * shortest round-trip representation (`BigDecimal.valueOf`).
    */
  def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Column-API entry point (internal — callers go through
    * [[graft.operators.Bm25.percolateJoin]]).
    */
  def alerts(tk: Column, qmap: Column, avgdl: Column,
             k1: Double, b: Double, threshold: Double): Column =
    org.apache.spark.sql.GraftColumnBridge.column(PercolateAlerts(
      org.apache.spark.sql.GraftColumnBridge.expression(tk), org.apache.spark.sql.GraftColumnBridge.expression(qmap),
      org.apache.spark.sql.GraftColumnBridge.expression(avgdl), k1, b, threshold))
}
