package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Prefix-filtered set-similarity join: the contract is EXACTNESS —
  * the result equals brute-force all-pairs Jaccard at every threshold,
  * including the float-boundary prefix lengths (0.6·5) the epsilon
  * ceiling exists for.
  */
class SetSimJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def toks(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text").select(col("doc_id"),
      split(col("text"), " ").as("toks"))

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def brute(rows: Seq[(Long, String)],
                    t: Double): Set[(Long, Long, Long, Double)] = {
    val sets = rows.map { case (id, s) => id -> s.split(" ").toSet }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size.toLong
      j = r6(inter.toDouble / (sa.size + sb.size - inter))
      if j >= t
    } yield (a, b, inter, j)).toSet
  }

  private def engine(rows: Seq[(Long, String)],
                     t: Double): Set[(Long, Long, Long, Double)] =
    SetSimJoin.jaccardPairs(toks(rows), "doc_id", "toks", t)
      .as[(Long, Long, Long, Double)].collect().toSet

  test("exactness vs brute force, including the 0.6 x 5-token boundary") {
    // 5-token docs at t = 0.6: correct prefix length is 3; a naive
    // ceil(0.6*5)=4 would shorten it to 2 and can miss pairs that
    // share only their 3rd-rarest token
    val rows = Seq(
      (1L, "q1 q2 c1 c2 c3"),
      (2L, "q3 q4 c1 c2 c3"),   // ∩ = {c1,c2,c3}, jac = 3/7 < 0.6
      (3L, "q1 q2 c1 c2 zz"),   // vs 1: ∩ = 4, jac = 4/6 ≥ 0.6
      (4L, "q1 q2 c1 c2 c3"))   // clone of 1
    val t = 0.6
    assert(engine(rows, t) == brute(rows, t))
    assert(engine(rows, t).exists(p => p._1 == 1L && p._2 == 4L))
  }

  test("exactness on a seeded random corpus across thresholds") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 30).map(i => s"w$i")
    val rows = (0L until 60L).map { id =>
      val n = 3 + rnd.nextInt(8)
      id -> rnd.shuffle(vocab).take(n).mkString(" ")
    }
    for (t <- Seq(0.4, 0.5, 0.6, 0.75, 0.9, 1.0)) {
      assert(engine(rows, t) == brute(rows, t), s"threshold $t")
    }
  }

  test("threshold 1.0 finds exactly the equal-set pairs, order-insensitive") {
    val rows = Seq((1L, "a b c"), (2L, "c a b"), (3L, "a b"), (4L, "a b"))
    val got = engine(rows, 1.0)
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 4L)))
  }

  private def bruteContainment(rows: Seq[(Long, String)],
                               t: Double): Set[(Long, Long, Long, Double)] = {
    val sets = rows.map { case (id, s) => id -> s.split(" ").toSet }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      inter = (sa & sb).size.toLong
      c = r6(inter.toDouble / sa.size)
      if c >= t
    } yield (a, b, inter, c)).toSet
  }

  private def engineContainment(rows: Seq[(Long, String)],
                                t: Double): Set[(Long, Long, Long, Double)] =
    SetSimJoin.containmentPairs(toks(rows), "doc_id", "toks", t)
      .as[(Long, Long, Long, Double)].collect().toSet

  test("containment: exactness vs brute force across thresholds, directed") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    val rows = (0L until 50L).map { id =>
      val n = 2 + rnd.nextInt(10)
      id -> rnd.shuffle(vocab).take(n).mkString(" ")
    }
    for (t <- Seq(0.5, 0.6, 0.75, 0.9, 1.0)) {
      assert(engineContainment(rows, t) == bruteContainment(rows, t),
        s"threshold $t")
    }
  }

  test("containment: a small quote inside a large page (the Jaccard blind spot)") {
    val page = (0 until 200).map(i => s"p$i").mkString(" ")
    val quote = (10 until 30).map(i => s"p$i").mkString(" ")
    val rows = Seq((1L, page), (2L, quote), (3L, "x1 x2 x3"))
    val got = engineContainment(rows, 1.0)
    // quote ⊆ page: containment(2→1) = 1.0; the reverse is 0.1
    assert(got.map(p => (p._1, p._2)) == Set((2L, 1L)))
    // and Jaccard at any sane threshold misses it
    assert(engine(rows, 0.5).isEmpty)
  }

  test("containment: subset at t=1.0 needs only the rarest prefix token") {
    val rows = Seq((1L, "a b c d e f"), (2L, "a b c"), (3L, "b c zz"))
    val got = engineContainment(rows, 1.0).map(p => (p._1, p._2))
    assert(got == Set((2L, 1L)))
  }

  test("containment guard trips on a high-df prefix token, lazily") {
    val rows = (0L until 20L).map(id => id -> s"common x$id")
    // hotBucketSalt = 0 pins the legacy loud-raise contract (the
    // adaptive default would split the bucket instead); the adaptive
    // path has its own brute-force-equality tests below
    val df = SetSimJoin.containmentPairs(toks(rows), "doc_id", "toks",
      threshold = 0.3, maxBucket = 5, hotBucketSalt = 0)
    val ex = intercept[Exception] { df.collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("maxBucket")), msgs(ex).mkString("|"))
  }

  test("incremental: batch pairs == rebuild restricted to batch members") {
    BatchProbeSpec.onBothRoutes(spark) {
      val rnd = new scala.util.Random(13)
      val vocab = (0 until 35).map(i => s"w$i")
      def mk(ids: Range) = ids.map { id =>
        val n = 3 + rnd.nextInt(8)
        id.toLong -> rnd.shuffle(vocab).take(n).mkString(" ")
      }
      val stored = mk(0 until 40)
      val batch = mk(100 until 130)
      val all = stored ++ batch
      val path = java.nio.file.Files.createTempDirectory("setsim_inc").toString
      SetSimJoin.saveSets(toks(stored), "doc_id", "toks", path)
      for (t <- Seq(0.5, 0.75, 1.0)) {
        val inc = SetSimJoin.incrementalJaccardPairs(spark, path,
            toks(batch), "doc_id", "toks", t)
          .as[(Long, Long, Long, Double)].collect().toSet
        val batchIds = batch.map(_._1).toSet
        val expected = brute(all, t)
          .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
        assert(inc == expected, s"threshold $t")
        // incremental ∪ prior == rebuild over the union
        assert(inc ++ brute(stored, t) == brute(all, t), s"threshold $t union")
      }
    }
  }

  test("incremental: append grows the stored state; collisions rejected") {
    BatchProbeSpec.onBothRoutes(spark) {
      val rows1 = Seq((1L, "a b c"), (2L, "d e f"))
      val rows2 = Seq((3L, "a b c"), (4L, "g h i"))
      val path = java.nio.file.Files.createTempDirectory("setsim_app").toString
      SetSimJoin.saveSets(toks(rows1), "doc_id", "toks", path)
      SetSimJoin.appendSets(spark, path, toks(rows2), "doc_id", "toks")
      // a later batch pairs against BOTH stored generations
      val inc = SetSimJoin.incrementalJaccardPairs(spark, path,
          toks(Seq((9L, "a b c"))), "doc_id", "toks", 1.0)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(inc.map(p => (p._1, p._2)) == Set((1L, 9L), (3L, 9L)))
      intercept[IllegalArgumentException] {
        SetSimJoin.appendSets(spark, path, toks(Seq((3L, "zz"))),
          "doc_id", "toks")
      }
      // foreign manifests are rejected loudly
      val bad = java.nio.file.Files.createTempDirectory("setsim_bad").toString
      SetSimJoin.saveSets(toks(rows1), "doc_id", "toks", bad)
      graft.store.StoreTestKit.stampForeign(spark, bad, "other-v9")
      val ex = intercept[IllegalArgumentException] {
        SetSimJoin.loadSets(spark, bad)
      }
      assert(ex.getMessage.contains("rebuild"))
    }
  }

  test("incremental audits refuse a foreign manifest") {
    val bad = java.nio.file.Files.createTempDirectory("setsim_v9").toString
    SetSimJoin.saveSets(toks(Seq((1L, "a b c"), (2L, "d e f"))),
      "doc_id", "toks", bad)
    graft.store.StoreTestKit.stampForeign(spark, bad, "other-v9")
    val batch = toks(Seq((9L, "a b c")))
    val e1 = intercept[IllegalArgumentException] {
      SetSimJoin.incrementalJaccardPairs(spark, bad, batch,
        "doc_id", "toks", 0.8)
    }
    assert(e1.getMessage.contains("other-v9"))
    val e2 = intercept[IllegalArgumentException] {
      SetSimJoin.incrementalContainmentPairs(spark, bad, batch,
        "doc_id", "toks", 0.8)
    }
    assert(e2.getMessage.contains("other-v9"))
  }

  test("prefix-bucket skew guard trips loudly at execution, lazily at call") {
    val rows = (0L until 20L).map(id => id -> s"common x$id")
    // construction is lazy — no job runs, no error yet. hotBucketSalt
    // = 0 pins the legacy loud-raise contract (the adaptive default
    // would split the bucket instead).
    val df = SetSimJoin.jaccardPairs(toks(rows), "doc_id", "toks",
      threshold = 0.3, maxBucket = 5, hotBucketSalt = 0)
    val ex = intercept[Exception] { df.collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("maxBucket")), msgs(ex).mkString("|"))
  }

  test("incremental containment: batch pairs == rebuild restricted; " +
       "union with prior == rebuild") {
    BatchProbeSpec.onBothRoutes(spark) {
      val rnd = new scala.util.Random(23)
      val vocab = (0 until 35).map(i => s"w$i")
      def mk(ids: Range) = ids.map { id =>
        val n = 2 + rnd.nextInt(9)
        id.toLong -> rnd.shuffle(vocab).take(n).mkString(" ")
      }
      val stored = mk(0 until 40)
      // batch includes genuine containment shapes: subsets of stored docs
      val batch = mk(100 until 120) ++ stored.take(5).map { case (id, s) =>
        (id + 500L) -> s.split(" ").take(math.max(1, s.split(" ").length / 2))
          .mkString(" ")
      }
      val all = stored ++ batch
      val path =
        java.nio.file.Files.createTempDirectory("setsim_incc").toString
      SetSimJoin.saveSets(toks(stored), "doc_id", "toks", path)
      for (t <- Seq(0.5, 0.75, 0.9, 1.0)) {
        val inc = SetSimJoin.incrementalContainmentPairs(spark, path,
            toks(batch), "doc_id", "toks", t)
          .as[(Long, Long, Long, Double)].collect().toSet
        val batchIds = batch.map(_._1).toSet
        val expected = bruteContainment(all, t)
          .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
        assert(inc == expected, s"threshold $t")
        // incremental ∪ prior == rebuild over the union (directed)
        assert(inc ++ bruteContainment(stored, t) == bruteContainment(all, t),
          s"threshold $t union")
      }
    }
  }

  test("incremental joins reject batch-stored id collisions eagerly — " +
       "even when the colliding docs are identical (empty pair output)") {
    BatchProbeSpec.onBothRoutes(spark) {
      val path =
        java.nio.file.Files.createTempDirectory("setsim_coll").toString
      SetSimJoin.saveSets(toks(Seq((1L, "a b c"), (2L, "d e f"))),
        "doc_id", "toks", path)
      // the dangerous case: same id, same content — pair output would be
      // EMPTY (a=b pairs are filtered), so an output-riding lazy guard
      // would never fire; the eager check must
      val dup = toks(Seq((1L, "a b c")))
      val e1 = intercept[IllegalArgumentException] {
        SetSimJoin.incrementalJaccardPairs(spark, path, dup,
          "doc_id", "toks", 0.8)
      }
      assert(e1.getMessage.contains("collide"))
      val e2 = intercept[IllegalArgumentException] {
        SetSimJoin.incrementalContainmentPairs(spark, path, dup,
          "doc_id", "toks", 0.8)
      }
      assert(e2.getMessage.contains("collide"))
    }
  }

  // ---- hot-bucket salted split (graceful degradation) ------------------

  /** One hot template token shared by `n` docs, each doc otherwise a
    * unique token + shared fillers: the hot token and the fillers land
    * in every prefix (the unique token is rarest, then the template,
    * then fillers), so prefix buckets reach `n` — over any small
    * maxBucket.
    */
  private def hotCorpus(n: Int): Seq[(Long, String)] =
    (0 until n).map(i =>
      i.toLong -> (s"hotmark u$i " + (1 to 8).map(j => s"f$j").mkString(" ")))

  test("salted split: output equals brute force where unsalted raises") {
    val rows = hotCorpus(40)
    // salting OFF: the hot bucket (40 > maxBucket=10) raises loudly
    val ex = intercept[Exception] {
      SetSimJoin.jaccardPairs(toks(rows), "doc_id", "toks",
        threshold = 0.8, maxBucket = 10, hotBucketSalt = 0).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("maxBucket")))
    // ADAPTIVE (the default): passes and is EXACT (each pair meets
    // exactly once) — c = 40 over maxBucket = 10 gets per-token salt
    // ⌈(40/10)²⌉ = 16, inside the 32·maxBucket backstop
    val got = SetSimJoin.jaccardPairs(toks(rows), "doc_id", "toks",
        threshold = 0.8, maxBucket = 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == got.toSet.size, "salted join duplicated pairs")
    assert(got.toSet == brute(rows, 0.8))
    assert(got.nonEmpty)
    // FIXED salt: the cap is maxBucket·⌊√salt⌋ (per-task volume stays
    // at the unsalted maxBucket² contract) — salt = 16 admits c = 40
    val fixed = SetSimJoin.jaccardPairs(toks(rows), "doc_id", "toks",
        threshold = 0.8, maxBucket = 10, hotBucketSalt = 16)
      .as[(Long, Long, Long, Double)].collect()
    assert(fixed.length == fixed.toSet.size, "fixed-salt join duplicated pairs")
    assert(fixed.toSet == brute(rows, 0.8))
    // FIXED salt under-sized for the per-task contract raises at the
    // scaled cap: salt = 4 → cap 10·⌊√4⌋ = 20 < 40
    val ex2 = intercept[Exception] {
      SetSimJoin.jaccardPairs(toks(rows), "doc_id", "toks",
        threshold = 0.8, maxBucket = 10, hotBucketSalt = 4).collect()
    }
    assert(msgs(ex2).exists(_.contains("salted cap")))
  }

  test("salt arithmetic: caps and per-task volume honor the maxBucket^2 contract") {
    // the guard cap is the largest bucket whose split still meets the
    // unsalted per-task bound (ADVICE r15: one-sided salting leaves
    // c^2/s candidates per task, NOT c^2/s^2)
    assert(SetSimJoin.saltedGuardCap(10, 0) == 10L)    // off: loud at maxBucket
    assert(SetSimJoin.saltedGuardCap(10, 8) == 20L)    // fixed: mb*floor(sqrt 8)
    assert(SetSimJoin.saltedGuardCap(10, 16) == 40L)   // fixed: mb*4
    assert(SetSimJoin.saltedGuardCap(10, 1) == 10L)    // s=1 is no split
    assert(SetSimJoin.saltedGuardCap(10, -1) == 320L)  // adaptive: mb*32
    // every admissible bucket size under the adaptive cap keeps
    // per-task candidates <= maxBucket^2 with s = ceil((c/mb)^2)
    for (mb <- Seq(3, 10, 100);
         c <- (mb + 1) to SetSimJoin.saltedGuardCap(mb, -1).toInt) {
      val s = math.min(math.ceil(math.pow(c.toDouble / mb, 2)),
        SetSimJoin.AdaptiveMaxSaltRoot.toDouble *
          SetSimJoin.AdaptiveMaxSaltRoot).toLong
      assert(c.toLong * c / s <= mb.toLong * mb,
        s"mb=$mb c=$c s=$s breaks the per-task contract")
    }
    // and the fixed-mode cap keeps the same bound at the caller's s
    for (mb <- Seq(3, 10, 100); s <- Seq(2, 4, 8, 16, 64)) {
      val cap = SetSimJoin.saltedGuardCap(mb, s)
      assert(cap * cap / s <= mb.toLong * mb,
        s"mb=$mb fixed s=$s cap=$cap breaks the per-task contract")
    }
  }

  test("adaptive backstop raises when even the largest split cannot hold") {
    // maxBucket = 1 → adaptive cap 32·1 = 32; the 40-doc template
    // bucket exceeds it, so the graceful path still ends LOUDLY
    val ex = intercept[Exception] {
      SetSimJoin.jaccardPairs(toks(hotCorpus(40)), "doc_id", "toks",
        threshold = 0.8, maxBucket = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("salted cap")))
  }

  test("salted split: no-op equality on corpora with no hot buckets") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    val rows = (0L until 50L).map { id =>
      id -> rnd.shuffle(vocab).take(3 + rnd.nextInt(8)).mkString(" ")
    }
    for (t <- Seq(0.5, 0.8)) {
      val plain = engine(rows, t)
      val salted = SetSimJoin.jaccardPairs(toks(rows), "doc_id", "toks",
          t, maxBucket = 10000, hotBucketSalt = 8)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(salted == plain, s"threshold $t")
    }
  }

  test("salted split: containment matches brute force on a hot corpus") {
    val rows = hotCorpus(30) ++ Seq(
      (900L, "hotmark u3"), // contained in doc 3
      (901L, "u5 f1 f2"))   // contained in doc 5
    // adaptive default: df ≈ 31 over maxBucket = 10 → per-token salt
    // ⌈(31/10)²⌉ = 10, inside the 32·maxBucket backstop
    val got = SetSimJoin.containmentPairs(toks(rows), "doc_id", "toks",
        threshold = 0.9, maxBucket = 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == got.toSet.size, "salted join duplicated pairs")
    assert(got.toSet == bruteContainment(rows, 0.9))
    assert(got.toSet.map((p: (Long, Long, Long, Double)) => (p._1, p._2))
      .contains((900L, 3L)))
    // the scaled backstop still raises when even the split would be hot
    val ex = intercept[Exception] {
      SetSimJoin.containmentPairs(toks(hotCorpus(50)), "doc_id", "toks",
        threshold = 0.9, maxBucket = 10, hotBucketSalt = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("salted cap")))
  }

  test("salted split: incremental joins match brute where unsalted raises") {
    BatchProbeSpec.onBothRoutes(spark) {
      val stored = hotCorpus(25) // ids 0..24, shared hotmark + fillers
      val batch = (0 until 15).map(i =>
        (1000L + i) -> (s"hotmark v$i " + (1 to 8).map(j => s"f$j")
          .mkString(" ")))
      val all = stored ++ batch
      val batchIds = batch.map(_._1).toSet
      val path = java.nio.file.Files.createTempDirectory("setsim_hsalt")
        .toString
      SetSimJoin.saveSets(toks(stored), "doc_id", "toks", path)
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ msgs(e.getCause))
      // salting OFF: the shared fillers collect 40-doc buckets > maxBucket
      val ex1 = intercept[Exception] {
        SetSimJoin.incrementalJaccardPairs(spark, path, toks(batch),
          "doc_id", "toks", 0.8, maxBucket = 10, hotBucketSalt = 0).collect()
      }
      assert(msgs(ex1).exists(_.contains("maxBucket")))
      // adaptive default: per-token salt from the union's bucket counts
      val incJ = SetSimJoin.incrementalJaccardPairs(spark, path, toks(batch),
          "doc_id", "toks", 0.8, maxBucket = 10)
        .as[(Long, Long, Long, Double)].collect()
      assert(incJ.length == incJ.toSet.size, "salted join duplicated pairs")
      assert(incJ.toSet == brute(all, 0.8)
        .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2)))
      assert(incJ.nonEmpty)
      val ex2 = intercept[Exception] {
        SetSimJoin.incrementalContainmentPairs(spark, path, toks(batch),
          "doc_id", "toks", 0.9, maxBucket = 10, hotBucketSalt = 0).collect()
      }
      assert(msgs(ex2).exists(_.contains("maxBucket")))
      val incC = SetSimJoin.incrementalContainmentPairs(spark, path,
          toks(batch), "doc_id", "toks", 0.9, maxBucket = 10)
        .as[(Long, Long, Long, Double)].collect()
      assert(incC.length == incC.toSet.size, "salted join duplicated pairs")
      assert(incC.toSet == bruteContainment(all, 0.9)
        .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2)))
      assert(incC.nonEmpty)
    }
  }

  test("salt events are OBSERVABLE without the abort (VERDICT r17 #4)") {
    // hotCorpus(40) at t=0.8: each 10-token doc exposes its 3 rarest
    // prefix tokens (u$i df=1, then f1, f2 at df=40 by tok-asc tie) —
    // so exactly TWO buckets exceed maxBucket=10, both of population 40
    val rows = hotCorpus(40)
    val df = SetSimJoin.jaccardPairs(toks(rows), "doc_id", "toks",
      threshold = 0.8, maxBucket = 10, observeSalt = Some("salt_probe"))
    // collect() on THIS handle: .as[...] would build a fresh
    // QueryExecution and the original's metrics would read un-executed
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == brute(rows, 0.8), "observation changed the output")
    val m = df.queryExecution.observedMetrics("salt_probe")
    assert(m.getAs[Long]("salted_buckets") == 2L, m.toString)
    assert(m.getAs[Long]("max_bucket") == 40L, m.toString)
    // cold corpus: zero salt events, same metric channel (one
    // duplicate pair keeps the output non-empty — an all-empty result
    // lets AQE empty-relation propagation prune the guard subtree and
    // no metric is observed, the documented caveat)
    val cold = (0 until 8).map(i =>
      i.toLong -> (1 to 10).map(j => s"t${i}_$j").mkString(" ")) ++
      Seq(100L -> (1 to 10).map(j => s"t0_$j").mkString(" "))
    val dfC = SetSimJoin.jaccardPairs(toks(cold), "doc_id", "toks",
      threshold = 0.8, maxBucket = 10, observeSalt = Some("salt_cold"))
    assert(dfC.collect().nonEmpty)
    val mC = dfC.queryExecution.observedMetrics("salt_cold")
    assert(mC.getAs[Long]("salted_buckets") == 0L)
    // incremental audit: the metric covers BATCH-RELEVANT buckets (the
    // documented tripwire scope) — a batch sharing the hot fillers
    // observes them
    val path = java.nio.file.Files.createTempDirectory("setsim_obs")
      .toString
    SetSimJoin.saveSets(toks(rows), "doc_id", "toks", path)
    val batch = Seq(5000L -> ("hotmark w0 " +
      (1 to 8).map(j => s"f$j").mkString(" ")))
    val dfI = SetSimJoin.incrementalJaccardPairs(spark, path, toks(batch),
      "doc_id", "toks", 0.8, maxBucket = 10,
      observeSalt = Some("salt_inc"))
    dfI.collect()
    val mI = dfI.queryExecution.observedMetrics("salt_inc")
    assert(mI.getAs[Long]("salted_buckets") >= 2L, mI.toString)
    assert(mI.getAs[Long]("max_bucket") == 41L, mI.toString)
  }

  test("fetch hints are size-conditioned: equality when candidates " +
      "exceed the broadcast threshold (VERDICT r17 #2)") {
    val stored = hotCorpus(25)
    val batch = (0 until 15).map(i =>
      (2000L + i) -> (s"hotmark v$i " + (1 to 8).map(j => s"f$j")
        .mkString(" ")))
    val all = stored ++ batch
    val batchIds = batch.map(_._1).toSet
    val path = java.nio.file.Files.createTempDirectory("setsim_cfit")
      .toString
    SetSimJoin.saveSets(toks(stored), "doc_id", "toks", path)
    val expected = brute(all, 0.8)
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    try {
      // -1 disables broadcasts outright: candFits and fitsBroadcast
      // are both false — the fetch takes the Bloom-pruned shuffle
      // fallback (the loud path ADVICE r17 asked for) and must still
      // produce the exact audit
      spark.conf.set(key, "-1")
      val unhinted = SetSimJoin.incrementalJaccardPairs(spark, path,
          toks(batch), "doc_id", "toks", 0.8, maxBucket = 10)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(unhinted == expected)
      val unhintedC = SetSimJoin.incrementalContainmentPairs(spark, path,
          toks(batch), "doc_id", "toks", 0.9, maxBucket = 10)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(unhintedC == bruteContainment(all, 0.9)
        .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2)))
    } finally spark.conf.set(key, before)
    // middle rung: the ceiling override admits the ids-only broadcast
    // but not the array-carrying one (105+ pairs × 120 B ≈ 13 KB ids
    // vs ≈ 139 KB with arrays) — token arrays leave the broadcast and
    // regroup via the candidate-bounded shuffle, output unchanged
    spark.conf.set("graft.setsim.fetchCeilingBytes", "20000")
    try {
      val mid = SetSimJoin.incrementalJaccardPairs(spark, path,
          toks(batch), "doc_id", "toks", 0.8, maxBucket = 10)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(mid == expected)
    } finally spark.conf.unset("graft.setsim.fetchCeilingBytes")
    val hinted = SetSimJoin.incrementalJaccardPairs(spark, path,
        toks(batch), "doc_id", "toks", 0.8, maxBucket = 10)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(hinted == expected)
  }

  // ---- stored-state maintenance: compact, remove -----------------------

  test("compactSets: identical rows back, fewer files") {
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 30).map(i => s"w$i")
    def mk(ids: Range) = ids.map(id =>
      id.toLong -> rnd.shuffle(vocab).take(3 + rnd.nextInt(6)).mkString(" "))
    val path = java.nio.file.Files.createTempDirectory("setsim_cmp").toString
    SetSimJoin.saveSets(toks(mk(0 until 20)), "doc_id", "toks", path)
    // five appended generations — the small-files shape
    (1 to 5).foreach { g =>
      SetSimJoin.appendSets(spark, path,
        toks(mk(100 * g until 100 * g + 10)), "doc_id", "toks")
    }
    def rows() = SetSimJoin.loadSets(spark, path)
      .as[(Long, Seq[String], Int)].collect().toSet
    def nParquetFiles() = {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(hp, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = rows()
    val filesBefore = nParquetFiles()
    SetSimJoin.compactSets(spark, path)
    assert(rows() == before, "compaction changed the stored rows")
    val filesAfter = nParquetFiles()
    assert(filesAfter < filesBefore,
      s"compaction did not reduce files ($filesBefore -> $filesAfter)")
    // loadSets still stamps-checks the compacted store
    SetSimJoin.appendSets(spark, path, toks(mk(900 until 905)),
      "doc_id", "toks")
  }

  test("removeSets: remove == rebuild over the difference; loud guards") {
    val rnd = new scala.util.Random(37)
    val vocab = (0 until 35).map(i => s"w$i")
    def mk(ids: Range) = ids.map(id =>
      id.toLong -> rnd.shuffle(vocab).take(3 + rnd.nextInt(8)).mkString(" "))
    val stored = mk(0 until 40)
    val gone = Set(3L, 7L, 21L)
    val path = java.nio.file.Files.createTempDirectory("setsim_rm").toString
    SetSimJoin.saveSets(toks(stored), "doc_id", "toks", path)
    SetSimJoin.removeSets(spark, path, gone.toSeq.toDF("doc_id"))
    // remove == rebuild over the difference, byte-for-byte on the rows
    val kept = SetSimJoin.loadSets(spark, path)
      .as[(Long, Seq[String], Int)].collect().toSet
    val rebuilt = java.nio.file.Files.createTempDirectory("setsim_rb").toString
    SetSimJoin.saveSets(toks(stored.filterNot(r => gone(r._1))),
      "doc_id", "toks", rebuilt)
    assert(kept == SetSimJoin.loadSets(spark, rebuilt)
      .as[(Long, Seq[String], Int)].collect().toSet)
    // removed ids stop answering downstream audits
    val batch = toks(Seq((999L, stored.find(_._1 == 3L).get._2)))
    val pairs = SetSimJoin.incrementalJaccardPairs(spark, path, batch,
        "doc_id", "toks", 1.0)
      .as[(Long, Long, Long, Double)].collect()
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // unknown id: loud, not a silent no-op
    val e1 = intercept[IllegalArgumentException] {
      SetSimJoin.removeSets(spark, path, Seq(123456L).toDF("doc_id"))
    }
    assert(e1.getMessage.contains("not"))
    // removing everything: loud
    val e2 = intercept[IllegalArgumentException] {
      SetSimJoin.removeSets(spark, path,
        stored.map(_._1).filterNot(gone).toDF("doc_id"))
    }
    assert(e2.getMessage.contains("empty"))
  }

  // ---- compiled-registry maintenance: append, remove --------------------

  test("registry append == recompile over the union; remove == difference") {
    val reg1 = Seq((1L, "a b c"), (2L, "d e f g"))
    val reg2 = Seq((10L, "a b x"), (11L, "h i"))
    val docs = Seq((100L, "a b c d x"), (101L, "d e f g h i"),
      (102L, "h i"), (103L, "zz zy"))
    def probeAll(compiled: org.apache.spark.sql.DataFrame) =
      SetSimJoin.containmentProbe(toks(docs).toDF("doc_id", "toks"),
          compiled, threshold = 0.5, idCol = "doc_id", toksCol = "toks")
        .as[(Long, Long, Long, Double)].collect().toSet
    def setsOf(rows: Seq[(Long, String)]) = toks(rows).toDF("id", "toks")
    val c1 = SetSimJoin.compileContainmentRegistry(setsOf(reg1), "id", "toks")
    val appended = SetSimJoin.appendToContainmentRegistry(c1,
      setsOf(reg2), "id", "toks")
    val full = SetSimJoin.compileContainmentRegistry(
      setsOf(reg1 ++ reg2), "id", "toks")
    // same postings, same probe alerts as a from-scratch recompile
    assert(SetSimJoin.registryPostings(appended)
        .as[(Long, String, Int)].collect().toSet ==
      SetSimJoin.registryPostings(full)
        .as[(Long, String, Int)].collect().toSet)
    assert(probeAll(appended) == probeAll(full))
    // the appended queries actually alert
    assert(probeAll(appended).exists(_._1 == 11L))
    // remove == recompile over the difference
    val removed = SetSimJoin.removeFromContainmentRegistry(appended,
      Seq(2L, 10L).toDF("qid"))
    val diff = SetSimJoin.compileContainmentRegistry(
      setsOf(Seq(reg1.head, reg2.last)), "id", "toks")
    assert(probeAll(removed) == probeAll(diff))
    assert(!probeAll(removed).exists(p => p._1 == 2L || p._1 == 10L))
    // guards: clashing append ids, unknown removal id, emptying removal
    val e1 = intercept[IllegalArgumentException] {
      SetSimJoin.appendToContainmentRegistry(c1, setsOf(reg1), "id", "toks")
    }
    assert(e1.getMessage.contains("collide"))
    val e2 = intercept[IllegalArgumentException] {
      SetSimJoin.removeFromContainmentRegistry(c1, Seq(42L).toDF("qid"))
    }
    assert(e2.getMessage.contains("not in the registry"))
    val e3 = intercept[IllegalArgumentException] {
      SetSimJoin.removeFromContainmentRegistry(c1, Seq(1L, 2L).toDF("qid"))
    }
    assert(e3.getMessage.contains("empty"))
    // union cap re-checked on append
    val e4 = intercept[IllegalArgumentException] {
      SetSimJoin.appendToContainmentRegistry(c1, setsOf(reg2), "id",
        "toks", maxQueries = 3)
    }
    assert(e4.getMessage.contains("queries"))
  }
}
