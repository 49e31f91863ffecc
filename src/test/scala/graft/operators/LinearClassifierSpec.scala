package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.TextFunctions

class LinearClassifierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Planted separable corpus: the q_nb_classify convention — label =
    * doc_id mod 2 with a doubled class-marker token appended.
    */
  private def planted = graft.Tables.documents(spark, sf)
    .select($"doc_id", ($"doc_id" % 2).cast("int").as("y"),
      concat($"text", when($"doc_id" % 2 === 0, lit(" mk0 mk0"))
        .otherwise(lit(" mk1 mk1"))).as("text"))
    .select($"doc_id", $"y", TextFunctions.tokens($"text").as("toks"))
    .filter(size($"toks") >= 1)

  test("features: per-doc n-gram mass sums to 1 plus the intercept") {
    val f = LinearClassifier.features(planted, "doc_id", "toks", "y", 64)
    val sums = f.groupBy("doc_id").agg(
      sum(when($"bucket" >= 0, $"x").otherwise(0.0)).as("gram_mass"),
      sum(when($"bucket" === -1L, 1).otherwise(0)).as("n_intercept"))
    val bad = sums.filter(abs($"gram_mass" - 1.0) > 1e-9 ||
      $"n_intercept" =!= 1).count()
    assert(bad == 0)
    assert(f.filter($"bucket" >= 64).count() == 0)
  }

  test("train: mean logistic loss falls on a separable planted corpus") {
    val (_, hist) = LinearClassifier.train(planted, "doc_id", "toks", "y",
      numBuckets = 64, iters = 4, lr = 5.0)
    assert(hist.length == 4)
    assert(math.abs(hist.head - math.log(2.0)) < 1e-9,
      s"iteration-0 loss must be ln 2 at w=0, got ${hist.head}")
    assert(hist.last < hist.head,
      s"loss did not fall: ${hist.head} -> ${hist.last}")
  }

  test("trainScoreBinary separates the planted classes") {
    // B must comfortably exceed the n-gram vocabulary share per bucket:
    // at B = 64 the marker's bucket collides with common words and
    // accuracy plateaus ~0.8 (measured); at B = 2048 the marker bucket
    // is clean and 2 full-batch steps reach 1.0 train accuracy.
    val scored = LinearClassifier.trainScoreBinary(planted, "doc_id",
      "toks", "y", numBuckets = 2048, iters = 2, lr = 5.0)
    val n = scored.count()
    val acc = scored.filter($"pred_label" === $"y").count().toDouble / n
    assert(acc >= 0.95, s"train accuracy $acc below 0.95")
    // every doc scored exactly once, n_features = its n-gram count
    assert(scored.select(countDistinct($"doc_id")).head().getLong(0) == n)
    val nf = scored.join(
        planted.select($"doc_id", (when(size($"toks") >= 2,
          size($"toks") * 2 - 1).otherwise(size($"toks")))
          .cast("long").as("expect_nf")), Seq("doc_id"))
      .filter($"n_features" =!= $"expect_nf").count()
    assert(nf == 0)
  }

  test("training is deterministic: identical weights across runs") {
    def run() = LinearClassifier.train(planted, "doc_id", "toks", "y",
        numBuckets = 64, iters = 2, lr = 5.0)._1
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq
    assert(run() == run())
  }

  test("trackLoss=false trains bit-identical weights to train()") {
    // ADVICE r18: with trackLoss=false the residual frame loses its
    // checkpoint+persist cut, so the gradient join's physical shape
    // (partitioning, row arrival order into sum(r*x)) differs from the
    // trackLoss=true path. The per-step round(..., 9) must absorb that
    // summation-order noise for the doc's determinism/warm-start claim
    // to hold ACROSS entry points, not just across runs of one shape —
    // pin the cross-shape weight parity explicitly.
    def weights(trackLoss: Boolean) = LinearClassifier.trainOnFeats(
        LinearClassifier.preparedFeatures(planted, "doc_id", "toks", "y",
          2048),
        "doc_id", iters = 3, lr = 5.0, trackLoss = trackLoss)._1
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq
    assert(weights(trackLoss = true) == weights(trackLoss = false))
  }

  test("stateless in-row scoring is bit-identical to the join path") {
    val B = 2048
    val (w, _) = LinearClassifier.train(planted, "doc_id", "toks", "y",
      numBuckets = B, iters = 2, lr = 5.0)
    val joined = LinearClassifier.scoreJoined(
        LinearClassifier.features(planted, "doc_id", "toks", "y", B),
        w, "doc_id")
      .select($"doc_id", $"n_features", $"score", $"pred_label")
    val (arr, intercept) = LinearClassifier.collectWeights(w, B)
    val (nf, score, pred) = LinearClassifier.scoreColumns($"toks", arr,
      intercept)
    val inRow = planted.select($"doc_id", nf.as("n_features"),
      score.as("score"), pred.as("pred_label"))
    assert(joined.exceptAll(inRow).count() == 0)
    assert(inRow.exceptAll(joined).count() == 0)
    // and trainScoreBinary (whichever path it picks) matches both
    val tsb = LinearClassifier.trainScoreBinary(planted, "doc_id",
        "toks", "y", numBuckets = B, iters = 2, lr = 5.0)
      .select($"doc_id", $"n_features", $"score", $"pred_label")
    assert(tsb.exceptAll(inRow).count() == 0)
    assert(inRow.exceptAll(tsb).count() == 0)
  }

  test("warm start: 1 iter + save/load + 1 iter == 2 direct iters") {
    val B = 2048
    val direct = LinearClassifier.train(planted, "doc_id", "toks", "y",
        numBuckets = B, iters = 2, lr = 5.0)._1
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val path = java.nio.file.Files
      .createTempDirectory("lc_model").toString
    val (w1, _) = LinearClassifier.train(planted, "doc_id", "toks", "y",
      numBuckets = B, iters = 1, lr = 5.0)
    LinearClassifier.saveModel(spark, w1, path, B)
    val (loaded, b) = LinearClassifier.loadModel(spark, path)
    assert(b == B)
    val warm = LinearClassifier.train(planted, "doc_id", "toks", "y",
        numBuckets = b, iters = 1, lr = 5.0, init = Some(loaded))._1
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(warm == direct)
  }

  test("loadModel rejects unstamped and foreign tables loudly") {
    val B = 64
    val (w, _) = LinearClassifier.train(planted, "doc_id", "toks", "y",
      numBuckets = B, iters = 1, lr = 5.0)

    // a weight table written as plain parquet: no manifest
    val bare = java.nio.file.Files.createTempDirectory("lc_bare").toString
    w.write.mode("overwrite").parquet(bare)
    val e1 = intercept[IllegalArgumentException] {
      LinearClassifier.loadModel(spark, bare)
    }
    assert(e1.getMessage.contains("no manifest"))
    assert(e1.getMessage.contains("LinearClassifier.saveModel"))

    // a model store whose manifest carries another layout's stamp
    val foreign = java.nio.file.Files
      .createTempDirectory("lc_foreign").toString
    LinearClassifier.saveModel(spark, w, foreign, B)
    graft.store.StoreTestKit.stampForeign(spark, foreign, "other-v9;buckets=64")
    val e2 = intercept[IllegalArgumentException] {
      LinearClassifier.loadModel(spark, foreign)
    }
    assert(e2.getMessage.contains("layout"))
    assert(e2.getMessage.contains("LinearClassifier.saveModel"))
  }

  test("plattCalibrate matches an independent local replica exactly") {
    // scores correlated with an imbalanced label: 8 negatives low, 2
    // positives high
    val rows = Seq(
      (-2.0, 0), (-1.5, 0), (-1.2, 0), (-1.0, 0), (-0.8, 0),
      (-0.5, 0), (-0.2, 0), (0.1, 0), (1.5, 1), (2.0, 1))
    val df = rows.zipWithIndex
      .map { case ((s, y), i) => (i.toLong, s, y) }
      .toDF("doc_id", "s", "y")
    val (a, b) = LinearClassifier.plattCalibrate(df, "s", "y",
      iters = 3, lr = 1.0)
    // local replica with the identical rounding discipline
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    val np = rows.count(_._2 == 1).toDouble
    val nn = rows.count(_._2 == 0).toDouble
    val n = np + nn
    val tg = rows.map { case (s, y) =>
      (s, if (y == 1) (np + 1) / (np + 2) else 1.0 / (nn + 2)) }
    var (ea, eb) = (0.0, r9(math.log((np + 1) / (nn + 1))))
    for (_ <- 0 until 3) {
      val ga = r9(tg.map { case (s, t) => (sig(ea * s + eb) - t) * s }.sum / n)
      val gb = r9(tg.map { case (s, t) => sig(ea * s + eb) - t }.sum / n)
      ea = r9(ea - ga); eb = r9(eb - gb)
    }
    assert(a == ea && b == eb, s"got ($a,$b) expected ($ea,$eb)")
    // the fitted map is orientation-preserving on separable data
    assert(a > 0.0)
  }

  test("plattCalibrate on an uninformative score recovers the smoothed base rate") {
    val df = (0 until 40).map(i => (i.toLong, 0.0, if (i < 4) 1 else 0))
      .toDF("doc_id", "s", "y")
    val (a, b) = LinearClassifier.plattCalibrate(df, "s", "y",
      iters = 4, lr = 1.0)
    val p = 1.0 / (1.0 + math.exp(-(a * 0.0 + b)))
    // smoothed base rate (np+1)/(n+2) = 5/42 ≈ 0.119
    assert(math.abs(p - 5.0 / 42.0) < 0.02, s"p_cal $p")
  }

  test("plattCalibrate requires both classes") {
    val df = Seq((1L, 0.5, 1), (2L, 0.7, 1)).toDF("doc_id", "s", "y")
    val ex = intercept[IllegalArgumentException] {
      LinearClassifier.plattCalibrate(df, "s", "y")
    }
    assert(ex.getMessage.contains("positive and one negative"))
  }

  test("loud caps on iters and numBuckets") {
    intercept[IllegalArgumentException] {
      LinearClassifier.train(planted, "doc_id", "toks", "y", iters = 65)
    }
    intercept[IllegalArgumentException] {
      LinearClassifier.features(planted, "doc_id", "toks", "y", 1 << 21)
    }
  }
}
