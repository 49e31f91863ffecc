package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Dedup

/** STREAMING MinHash-LSH near-duplicate detection: incoming documents
  * are checked against every previously-seen document sharing an LSH
  * band bucket, at arrival time — the ingest-point twin of the batch
  * [[Dedup.nearDuplicatePairs]] pipeline (a 100 TB crawl wants
  * near-dups flagged as documents land, not in a nightly batch pass).
  *
  * Scale shape: the per-doc signature program is stateless and per-row
  * (the compiled [[graft.functions.MinhashSig]] expression — no shuffle
  * before the stateful operator, which streaming requires); the ONLY stateful
  * operator is one `flatMapGroupsWithState` keyed by (band, bucket
  * hash). Per-bucket state is the member list (id + signature, ~0.5 KB
  * per member at 64 hashes), HARD-bounded by `maxBucket`: a bucket that
  * exceeds the cap emits one deterministic `overflow` marker row,
  * drops its members, and stops forming pairs — the streaming
  * rendering of the batch skew guard's anti-join (pathological
  * boilerplate buckets must not go quadratic in STATE either). State
  * beyond heap is the measured RocksDB-provider territory
  * (BASELINE.md *Streaming state beyond heap — measured*, round 10:
  * 30M live keys on 4 GB heap).
  *
  * Determinism contract: while every bucket stays under `maxBucket`,
  * the emitted pair SET is exactly the co-bucket pair set — identical
  * to the batch [[Dedup.lshCandidatePairsFromSigs]] candidates after
  * cross-band dedup, independent of arrival order or micro-batch
  * boundaries (spec-pinned). Pairs already emitted by a bucket that
  * LATER overflows cannot be retracted in append mode; the marker row
  * tells the consumer which (band, bh) to exclude or re-run in the
  * batch path — the incremental-dedup convention of loud, actionable
  * degradation.
  */
object NearDupStream {

  final case class BandedDoc(band: Int, bh: Long, id: Long, sig: Seq[Long])

  /** `kind` is "pair" (a < b, est = signature agreement fraction) or
    * "overflow" (a = b = -1, est = the arrival count that tripped the
    * cap).
    */
  final case class PairHit(kind: String, band: Int, bh: Long,
                           a: Long, b: Long, est: Double)

  /** Per-bucket state (public only because Catalyst's encoder codegen
    * must construct it — not caller API).
    */
  final case class BucketState(ids: Seq[Long], sigs: Seq[Seq[Long]],
                               arrivals: Long, closed: Boolean)

  /** Stateless per-row prep: minhash signature + exploded band rows.
    * Deliberately per-row, NOT the explode+agg [[Dedup.signatures]]
    * shape — an aggregation before `flatMapGroupsWithState` would make
    * this a multi-stateful-operator stream (unsupported in append
    * mode). The signature itself is the compiled
    * [[graft.functions.MinhashSig]] expression: the interpreted HOF
    * form ([[Dedup.minhashSignature]]) re-walks the shingle array once
    * per seed and took MINUTES at sf0.1 where the expression takes
    * seconds (all three forms are spec-pinned identical).
    */
  def bandedSignatures(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       shingleK: Int = Dedup.DefaultShingleK,
                       numHashes: Int = 64,
                       numBands: Int = 8): Dataset[BandedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    val sig: Column = graft.functions.MinhashSig.minhash_sig(
      Dedup.tokenHashes(col(textCol)), shingleK, numHashes)
    docs.select(col(idCol).as("id"), sig.as("sig"))
      .select(col("id"), col("sig"),
        explode(Dedup.bands(col("sig"), numBands, rowsPerBand)).as("b"))
      .select(col("b.band").as("band"), col("b.bh").as("bh"),
        col("id"), col("sig"))
      .as[BandedDoc]
  }

  /** The stateful core: per-(band, bh) member state, pair emission at
    * arrival, loud overflow. Works on a streaming OR batch Dataset —
    * in batch mode each bucket's whole membership arrives as one group
    * with empty initial state, which is exactly the one-micro-batch
    * streaming run (the parity lever the spec uses).
    */
  def candidatePairs(banded: Dataset[BandedDoc],
                     maxBucket: Int = 200): Dataset[PairHit] = {
    val spark = banded.sparkSession
    import spark.implicits._
    require(maxBucket >= 1, "maxBucket must be >= 1")
    banded
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState[BucketState, PairHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), batch: Iterator[BandedDoc],
         state: GroupState[BucketState]) =>
          val (band, bh) = key
          var st = state.getOption.getOrElse(
            BucketState(Vector.empty, Vector.empty, 0L, closed = false))
          val out = Seq.newBuilder[PairHit]
          // id-sorted within the micro-batch: the pair SET is already
          // order-independent under the cap; sorting additionally makes
          // the overflow boundary reproducible given fixed batching
          val arrivalsNow = batch.toArray.sortBy(_.id)
          for (doc <- arrivalsNow) {
            st = st.copy(arrivals = st.arrivals + 1L)
            if (!st.closed) {
              if (st.arrivals > maxBucket) {
                out += PairHit("overflow", band, bh, -1L, -1L,
                  st.arrivals.toDouble)
                st = st.copy(ids = Vector.empty, sigs = Vector.empty,
                  closed = true)
              } else {
                val n = doc.sig.length
                var m = 0
                while (m < st.ids.length) {
                  val other = st.sigs(m)
                  var eq = 0
                  var h = 0
                  while (h < n) {
                    if (other(h) == doc.sig(h)) eq += 1
                    h += 1
                  }
                  val est = eq.toDouble / n
                  val (a, b) =
                    if (st.ids(m) < doc.id) (st.ids(m), doc.id)
                    else (doc.id, st.ids(m))
                  if (a != b) out += PairHit("pair", band, bh, a, b, est)
                  m += 1
                }
                st = st.copy(ids = st.ids :+ doc.id,
                  sigs = st.sigs :+ doc.sig)
              }
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Cross-band dedup of an emitted hit table (a BATCH query over the
    * sink — in production a second streaming stage with a watermark, or
    * simply the consumer's dedup): distinct (a, b) pairs with their
    * signature estimate, plus the overflow markers passed through.
    */
  def distinctPairs(hits: DataFrame): DataFrame =
    hits.filter(col("kind") === "pair")
      .groupBy("a", "b").agg(max(col("est")).as("est"))

  /** Overflowed (band, bh) buckets of an emitted hit table — the
    * consumer's re-run list.
    */
  def overflowedBuckets(hits: DataFrame): DataFrame =
    hits.filter(col("kind") === "overflow")
      .select(col("band"), col("bh"), col("est").cast("long").as("arrivals"))
}
