package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Lineage
import graft.store.Store

/** fastText-shape linear quality classifier — the trained counterpart
  * of [[NbClassifier]] on the same keep/drop axis (CCNet / GPT-3-style
  * curation stacks run a hashed-feature LINEAR model, not NB: Joulin et
  * al. 2016 "Bag of Tricks for Efficient Text Classification").
  *
  * Model: logistic regression over hashed unigram+bigram features with
  * fastText's mean-of-features input shape — each of a doc's `n_d`
  * n-gram occurrences contributes `x = 1/n_d`, plus an explicit
  * intercept feature (bucket −1, x = 1), so the score is
  * `b + mean(w[feature])`. Features hash with the same md5-prefix
  * arithmetic as [[Dsir.hashedNgrams]]: a pure function of content,
  * replayable in SQL and retry/repartition-stable.
  *
  * Training is deterministic FULL-BATCH gradient descent — a fixed
  * number of iterations, each iteration two aggregations:
  *
  *   p_d   = sigmoid(Σ_f w[f]·x_df)            (doc-keyed reduce)
  *   g[f]  = round(Σ_d (p_d − y_d)·x_df / N, 9) (bucket-keyed reduce)
  *   w[f] −= round(lr·g[f], …)                  (≤ B+1-row map)
  *
  * Both reduces round at 9 dp before the update, so the iteration
  * function is bit-replayable across engines (the [[Dsir]] summation-
  * order convention, applied per step because GD compounds).
  *
  * Scale shape (100 TB):
  *  - The feature stream is materialized ONCE, pre-partitioned on the
  *    doc id. Per iteration the doc-keyed reduce and the residual join
  *    reuse that partitioning — no corpus-sized exchange per step; only
  *    the N-row residual frame shuffles.
  *  - The bucket-keyed gradient collapses map-side to ≤ B+1 rows per
  *    partition before its exchange (Zipf heads are partial-agg food).
  *  - The weight vector is ≤ B+1 rows — broadcast every iteration;
  *    the driver loop is `iters`-bounded with a loud cap, never
  *    corpus-bounded.
  * Training cost is therefore one pass over the feature stream per
  * iteration — linear in corpus size, never corpus-quadratic.
  */
object LinearClassifier {

  /** Loud caps: the driver loop and the broadcast weight table must be
    * config-bounded, never data-bounded.
    */
  private val MaxIters = 64
  private val MaxBuckets = 1 << 20

  /** Hashed feature instances `(idCol, y, bucket, x)`: unigram + bigram
    * occurrences at `x = 1/n_d` (n_d = 2·len−1 for len ≥ 2 else len — a
    * pure expression of the token count, no counting join), plus the
    * intercept row (bucket −1, x = 1). Docs need ≥ 1 token; callers
    * filter first (the [[NbClassifier]] contract).
    */
  def features(docs: DataFrame, idCol: String, toksCol: String,
               labelCol: String, numBuckets: Int): DataFrame = {
    require(numBuckets >= 2 && numBuckets <= MaxBuckets,
      s"linearClassifier: numBuckets must be in [2, $MaxBuckets]")
    val n = size(col(toksCol))
    val base = docs.select(col(idCol), col(labelCol).as("y"),
      col(toksCol).as("toks"),
      when(n >= 2, n * 2 - 1).otherwise(n).cast("double").as("nf"))
    val uni = base.select(col(idCol), col("y"), col("nf"),
      explode(col("toks")).as("ng"))
    val bi = base.filter(size(col("toks")) >= 2)
      .select(col(idCol), col("y"), col("nf"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
                              element_at(col("toks"), i + 1)))).as("ng"))
    val grams = uni.unionByName(bi).select(col(idCol), col("y"),
      (conv(substring(md5(col("ng")), 1, 8), 16, 10).cast("long")
        % numBuckets).as("bucket"),
      (lit(1.0) / col("nf")).as("x"))
    val intercept = base.select(col(idCol), col("y"),
      lit(-1L).as("bucket"), lit(1.0).as("x"))
    grams.unionByName(intercept)
  }

  private def sigmoid(s: Column): Column = lit(1.0) / (lit(1.0) + exp(-s))

  private[operators] def preparedFeatures(docs: DataFrame, idCol: String,
                               toksCol: String, labelCol: String,
                               numBuckets: Int): DataFrame = {
    // One materialization, hash-repartitioned on the doc id, read by
    // every training iteration and by trainScoreBinary's scoring pass
    // (re-deriving it re-runs tokenize+hash+explode over the corpus).
    // The planner does NOT see that partitioning: in the
    // q_linear_classify plan dump (ProfilePlanDumpAll, sf0.01; the same
    // shape as plans/r18/q_linear_classify_after.txt) this frame scans
    // as `Scan ExistingRDD ... localCheckpoint ... UnknownPartitioning(0)`
    // and the scoring pass's doc-keyed aggregate still exchanges on
    // hashpartitioning(doc_id) above it, so every doc-keyed reduce here
    // re-shuffles. What the repartition does buy is co-location: a
    // doc's unigram, bigram and intercept rows share one partition, so
    // the partial aggregate below each exchange emits one row per doc.
    // The interleaved A/B against the LogicalRDD round-trip (4.08 vs
    // 4.92 s gate floor at sf0.1) therefore did not come from a kept
    // partitioning. A PLAIN persist measured 2-5x WORSE here with wild
    // variance (9-42 s) — the visible full lineage under the cache
    // re-optimizes per consumer and interacts pathologically with the
    // per-iteration uncache calls. The frame outlives the call, so it
    // is GC-owned (the graft.plans.Lineage lifetime rule).
    features(docs, idCol, toksCol, labelCol, numBuckets)
      .repartition(col(idCol))
      .localCheckpoint(false)
  }

  /** Train the weight vector: returns `(weights (bucket, wt), loss
    * history)` where entry i of the history is the mean logistic loss
    * BEFORE iteration i's update (so a learning run shows it falling).
    * Weights start at zero over exactly the buckets present in the
    * corpus (≤ numBuckets+1 rows) — or, with `init` (a stored model's
    * weight table), WARM-START from it: training is deterministic, so
    * `train(iters = a+b)` ≡ `train(iters = a)` → save → load →
    * `train(iters = b, init = loaded)` on the same corpus
    * (gate-pinned), and a grown corpus simply contributes fresh
    * zero-weight buckets.
    */
  def train(docs: DataFrame, idCol: String, toksCol: String,
            labelCol: String, numBuckets: Int = 1024, iters: Int = 3,
            lr: Double = 5.0,
            init: Option[DataFrame] = None): (DataFrame, Seq[Double]) =
    trainOnFeats(
      preparedFeatures(docs, idCol, toksCol, labelCol, numBuckets),
      idCol, iters, lr, init)

  /** @param trackLoss when false the per-iteration mean-loss
    *   aggregation is skipped and the returned history is empty — the
    *   [[trainScoreBinary]] path, whose callers discard it (r18 opt:
    *   the loss is one extra job per iteration, and with it gone the
    *   residual frame is consumed exactly once by the gradient join, so
    *   its checkpoint+persist boundary goes too; the weight math is
    *   untouched). Loss-consuming callers ([[train]]) keep the default.
    */
  private[operators] def trainOnFeats(feats: DataFrame, idCol: String, iters: Int,
                           lr: Double,
                           init: Option[DataFrame] = None,
                           trackLoss: Boolean = true)
      : (DataFrame, Seq[Double]) = {
    require(iters >= 1 && iters <= MaxIters,
      s"linearClassifier: iters must be in [1, $MaxIters]")
    // Only `w` is ITERATED (w_{i+1}'s plan would embed w_i's full plan,
    // compounding across up to MaxIters rounds) — it is a lineage-
    // truncating round; it is ≤ B+1 rows, so the row conversion and the
    // lost partitioning cost nothing. `resid` is rebuilt per iteration
    // from (feats, w_i) — no compounding.
    Lineage.scoped { scope =>
      val nDocs = feats.select(col(idCol)).distinct().count().toDouble
      require(nDocs > 0, "linearClassifier: no documents with >= 1 token")
      // zero weights over the corpus' buckets, overlaid with the init
      // model where provided: buckets the stored model never saw start at
      // 0; stored buckets absent from THIS corpus keep their weight
      // (gradients never touch them — the left join below)
      val zeros = feats.select(col("bucket")).distinct()
        .withColumn("wt", lit(0.0))
      var w = scope.round(init match {
        case None => zeros
        case Some(prev) =>
          zeros.select(col("bucket"))
            .unionByName(prev.select(col("bucket"))).distinct()
            .join(prev.select(col("bucket"), col("wt").as("pw")),
              Seq("bucket"), "left")
            .select(col("bucket"), coalesce(col("pw"), lit(0.0)).as("wt"))
      })
      val history = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (it <- 0 until iters) {
        // residuals r_d = p_d − y_d at the CURRENT weights (one doc-keyed
        // reduce). With loss tracking the frame is consumed twice (loss
        // agg + gradient join) and is a round; without, the gradient
        // join is its only consumer and the residuals inline into that
        // one pass.
        val residRaw = feats.join(broadcast(w), Seq("bucket"))
          .groupBy(col(idCol))
          .agg(first(col("y")).as("y"), sum(col("wt") * col("x")).as("s"))
          .select(col(idCol), col("y").cast("double").as("yd"),
                  sigmoid(col("s")).as("p"))
        val resid = if (trackLoss) scope.round(residRaw) else residRaw
        if (trackLoss) {
          val loss = resid.agg(avg(
            -(col("yd") * log(col("p")) +
              (lit(1.0) - col("yd")) * log(lit(1.0) - col("p")))))
            .head().getDouble(0)
          history += loss
        }
        // mean gradient per bucket, rounded 9 dp (cross-engine step
        // determinism); partial agg collapses to ≤ B+1 rows per partition
        val grads = feats
          .join(resid.select(col(idCol), (col("p") - col("yd")).as("r")),
                Seq(idCol))
          .groupBy(col("bucket"))
          .agg(round(sum(col("r") * col("x")) / nDocs, 9).as("g"))
        val stepped = w.join(grads, Seq("bucket"), "left")
          .select(col("bucket"),
            round(col("wt") - lit(lr) * coalesce(col("g"), lit(0.0)), 9)
              .as("wt"))
        // materialize (≤ B+1 rows) before parents release; the returned
        // weights outlive the call
        val wNew =
          if (it == iters - 1) stepped.localCheckpoint(true)
          else { val c = scope.round(stepped); c.count(); c }
        scope.release(w)
        if (trackLoss) scope.release(resid)
        w = wNew
      }
      (w, history.toSeq)
    }
  }

  /** Train and score every document under the final weights:
    * `idCol, y, n_features, score, pred_label` where `score` is the
    * 6-dp-rounded log-odds `b + mean(w[f])` and `pred_label` derives
    * from the ROUNDED score (both engines decide ties identically — the
    * [[NbClassifier]] convention). The per-doc score folds its ~n_d
    * weight terms in (bucket, value) order, not group-SUM order — at
    * thousands of terms per doc the summation-order noise otherwise
    * crosses 6-dp rounding boundaries (measured: 1 row in 5000 at
    * sf0.1), the same reason [[Pq.encode]] folds qerr in sub order.
    */
  def trainScoreBinary(docs: DataFrame, idCol: String, toksCol: String,
                       labelCol: String, numBuckets: Int = 1024,
                       iters: Int = 3, lr: Double = 5.0): DataFrame = {
    // ONE prepared feature frame for training and scoring: re-deriving
    // features for the scoring pass re-ran tokenize+hash+explode over
    // the whole corpus (measured ~1 s of the gate's ~6 s at sf0.1).
    // Scoring deliberately stays on the join+groupBy path: the
    // stateless [[scoreColumns]] variant was interleaved-A/B'd here and
    // LOST (5.2–5.5 s joined vs 6.3–7.5 s in-row at sf0.1) — its
    // per-element interpreted HOF lambdas (md5+conv per n-gram,
    // array_sort of ~2k structs per row) cost more than the codegen'd
    // explode+broadcast-join over the already-persisted stream. Use
    // scoreColumns where STATELESSNESS is the requirement (streaming
    // ingest), not as a batch speedup.
    val feats = preparedFeatures(docs, idCol, toksCol, labelCol, numBuckets)
    val (w, _) = trainOnFeats(feats, idCol, iters, lr, trackLoss = false)
    scoreJoined(feats, w, idCol)
  }

  /** Score docs under an EXISTING weight table (e.g. a stored model) —
    * the join+groupBy path over freshly derived features. Same output
    * contract as [[trainScoreBinary]].
    */
  def scoreWith(docs: DataFrame, idCol: String, toksCol: String,
                labelCol: String, w: DataFrame,
                numBuckets: Int): DataFrame =
    scoreJoined(features(docs, idCol, toksCol, labelCol, numBuckets), w,
      idCol)

  /** The join+groupBy scoring form — the fallback when the weight
    * vector exceeds the plan-literal cap. Folds each doc's (bucket,
    * weight·x) terms in sorted order, not group-SUM order — at
    * thousands of terms per doc the summation-order noise otherwise
    * crosses 6-dp rounding boundaries (measured: 1 row in 5000 at
    * sf0.1), the same reason [[Pq.encode]] folds qerr in sub order.
    * Bit-identical to [[scoreColumns]] (parity spec).
    */
  private[operators] def scoreJoined(feats: DataFrame, w: DataFrame,
                                     idCol: String): DataFrame = {
    val ordered = transform(
      array_sort(collect_list(struct(col("bucket"),
        (col("wt") * col("x")).as("v")))),
      s => s.getField("v"))
    val score = round(
      aggregate(ordered, lit(0.0), (acc, v) => acc + v), 6)
    feats.join(broadcast(w), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(first(col("y")).as("y"),
        sum(when(col("bucket") >= 0, 1L).otherwise(0L)).as("n_features"),
        score.as("score"))
      .select(col(idCol), col("y"), col("n_features"), col("score"),
        when(col("score") > 0, 1).otherwise(0).as("pred_label"))
  }

  // ---- Platt calibration (Platt 1999) --------------------------------

  /** Fit Platt scaling on (score, label) pairs: the 2-parameter
    * logistic map p = σ(a·s + b) that turns a classifier's raw margin
    * into a CALIBRATED probability — the standard post-hoc step before
    * thresholding quality scores into keep/drop decisions at a target
    * precision. Uses Platt's smoothed targets
    * t₊ = (n₊+1)/(n₊+2), t₋ = 1/(n₋+2) (the out-of-sample correction
    * that matters exactly when labels are imbalanced), initialized at
    * a = 0, b = ln((n₊+1)/(n₋+1)) (the smoothed base-rate log-odds),
    * refined by `iters` full-batch GD steps.
    *
    * Sign convention: σ(a·s + b) with a > 0 for a score that increases
    * with P(y=1) — the [[train]] orientation (Platt's paper writes the
    * equivalent 1/(1+exp(A·s+B)) with A < 0).
    *
    * Determinism is the [[train]] contract: both gradients round to
    * 9 dp per step, so the whole fit replays as SQL CTEs. Scale shape:
    * ONE aggregation pass per iteration over the (id, s, t) frame
    * producing exactly two doubles; the frame is materialized once
    * (a [[graft.plans.Lineage.scoped]] round) so iterations never
    * re-derive the score column. All driver state is the two scalars.
    */
  def plattCalibrate(scored: DataFrame, scoreCol: String, labelCol: String,
                     iters: Int = 2, lr: Double = 1.0): (Double, Double) = {
    require(iters >= 1 && iters <= MaxIters,
      s"plattCalibrate: iters must be in [1, $MaxIters]")
    // null scores/labels are EXCLUDED up front: they would silently
    // vanish from the gradient sums while still counting in n (sums
    // skip nulls, count(*) doesn't), deflating every step
    val base = scored.select(col(scoreCol).cast("double").as("s"),
      col(labelCol).cast("int").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
    val counts = base.agg(
      sum(col("y")).as("np"), sum(lit(1) - col("y")).as("nn")).head()
    val np = counts.getLong(0).toDouble
    val nn = counts.getLong(1).toDouble
    require(np > 0 && nn > 0,
      "plattCalibrate: need at least one positive and one negative label")
    val n = np + nn
    val tPos = (np + 1.0) / (np + 2.0)
    val tNeg = 1.0 / (nn + 2.0)
    // HALF_UP to match Spark's round() and DuckDB's ROUND on the oracle
    // side (math.rint would round half-to-even and disagree at exact
    // boundaries)
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    var a = 0.0
    var b = r9(math.log((np + 1.0) / (nn + 1.0)))
    Lineage.scoped { scope =>
      val frame = scope.round(base.select(col("s"),
        when(col("y") === 1, lit(tPos)).otherwise(lit(tNeg)).as("t")))
      for (_ <- 0 until iters) {
        val g = frame.agg(
          sum((sigmoid(lit(a) * col("s") + lit(b)) - col("t")) * col("s"))
            .as("ga"),
          sum(sigmoid(lit(a) * col("s") + lit(b)) - col("t")).as("gb"))
          .head()
        a = r9(a - lr * r9(g.getDouble(0) / n))
        b = r9(b - lr * r9(g.getDouble(1) / n))
      }
    }
    (a, b)
  }

  /** The calibrated-probability column p = σ(a·s + b) for a fitted
    * (a, b) — per-row arithmetic, codegen, stream-legal.
    */
  def calibrated(score: Column, a: Double, b: Double): Column =
    sigmoid(lit(a) * score + lit(b))

  // ---- versioned model persistence (a graft.store store) -----------

  private[graft] val ModelFormatPrefix = "graft-linear-v1"
  private val Weights = "weights"

  /** Persist a trained weight table as a manifest-committed store.
    * `numBuckets` rides in the format stamp: a model warm-started or
    * scored under a different bucket count would silently mis-bucket
    * every feature — geometry is part of the artifact, not a caller
    * convention.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, w: DataFrame,
                path: String, numBuckets: Int): Unit =
    Store.save(spark, path, s"$ModelFormatPrefix;buckets=$numBuckets",
      Seq((Weights, w.repartition(1), None)))

  /** Load a stored model: (weights, numBuckets), stamp checked from the
    * manifest (no job). Rejects a missing or foreign manifest loudly;
    * callers MUST train/score with the returned bucket count.
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): (DataFrame, Int) = {
    val stamp = ModelFormatPrefix + ";buckets="
    val m = Store.live(spark, path, s"stored linear model at $path has no " +
      "manifest — written by a pre-manifest build or not a model; retrain " +
      "and re-save with LinearClassifier.saveModel")(
      _.startsWith(stamp),
      f => s"stored linear model at $path has layout '$f', this build " +
        s"reads '$ModelFormatPrefix' — retrain and re-save with " +
        "LinearClassifier.saveModel")
    (Store.table(spark, path, m, Weights), m.format.stripPrefix(stamp).toInt)
  }

  /** Loud cap for [[scoreColumns]]'s weight-array literal: the whole
    * dense weight vector rides in the plan (one double per bucket), so
    * the deploy-a-model path caps B where a literal stays sane.
    */
  private val MaxLiteralBuckets = 1 << 16

  /** Collect trained weights into the dense literal form
    * [[scoreColumns]] consumes: (bucket→weight array of length
    * numBuckets, intercept weight). Driver-side size is B+1 doubles —
    * model-sized, never corpus-sized.
    */
  def collectWeights(w: DataFrame,
                     numBuckets: Int): (IndexedSeq[Double], Double) = {
    require(numBuckets <= MaxLiteralBuckets,
      s"linearClassifier: numBuckets > $MaxLiteralBuckets cannot ship " +
      "as a plan literal; score via the join path instead")
    val rows = w.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val arr = (0 until numBuckets).map(b => rows.getOrElse(b.toLong, 0.0))
    (arr, rows.getOrElse(-1L, 0.0))
  }

  /** STATELESS per-row scoring under a trained model — zero joins, zero
    * aggregations, zero state: tokens → n-grams → md5 buckets → dense
    * weight-array lookup, entirely built-in codegen HOFs over one row.
    * This is the deploy shape: a stream (or any scan) filters on
    * quality at ingest with the model as a plan literal, no shuffle
    * before the sink (append-mode streaming legal by construction).
    *
    * Output columns (n_features, score, pred_label) are BIT-IDENTICAL
    * to [[trainScoreBinary]]'s scoring pass: the fold runs over the
    * same (bucket, weight·x) multiset in the same sorted order, with
    * the intercept's bucket −1 sorting first — spec-pinned.
    */
  def scoreColumns(toks: Column, weights: IndexedSeq[Double],
                   intercept: Double): (Column, Column, Column) = {
    val numBuckets = weights.length
    require(numBuckets >= 2 && numBuckets <= MaxLiteralBuckets,
      s"linearClassifier: weight array length must be in " +
      s"[2, $MaxLiteralBuckets]")
    val wArr = array(weights.map(lit): _*)
    val n = size(toks)
    val nf = when(n >= 2, n * 2 - 1).otherwise(n).cast("double")
    // x computed exactly as the join path does (wt * (1/nf), NOT
    // wt/nf — the two differ in ulps and the fold must be bit-equal)
    val x = lit(1.0) / nf
    val bi = when(n >= 2,
      transform(sequence(lit(1), n - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val grams = concat(toks, bi)
    // the same (bucket, v) structs the join path sorts and folds —
    // bucket −1 (intercept, v = its weight) plus one struct per n-gram
    // occurrence (v = w[bucket]·x)
    val entries = concat(
      array(struct(lit(-1L).as("bucket"), lit(intercept).as("v"))),
      transform(grams, ng => {
        val b =
          conv(substring(md5(ng), 1, 8), 16, 10).cast("long") % numBuckets
        struct(b.as("bucket"),
          (element_at(wArr, b.cast("int") + 1) * x).as("v"))
      }))
    val score = round(
      aggregate(transform(array_sort(entries), s => s.getField("v")),
        lit(0.0), (acc, v) => acc + v), 6)
    (size(grams).cast("long"), score,
      when(score > 0, 1).otherwise(0))
  }
}
