package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Okapi BM25: engine ranking vs an independent driver-side replica of
  * the formula, plus the three properties that define BM25 against
  * plain TF-IDF — tf saturation, length normalization, and idf
  * weighting.
  */
class Bm25Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture = Seq(
    (0L, "a b a"),
    (1L, "a c"),
    (2L, "b b b b"),
    (3L, "a a a a a a a a")).toDF("doc_id", "text")

  /** Independent local BM25 (plain Scala collections, no Spark). */
  private def localBm25(docs: Seq[(Long, String)],
                        query: String, k1: Double = 1.2,
                        b: Double = 0.75): Map[Long, Double] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val n = docs.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toDouble }
    val qts = query.trim.split("\\s+").filter(_.nonEmpty).distinct.sorted
    toks.map { case (id, ts) =>
      val dl = ts.size.toDouble
      val score = qts.map { qt =>
        val tf = ts.count(_ == qt).toDouble
        if (tf == 0) 0.0
        else {
          val idf = math.log((n - dfm(qt) + 0.5) / (dfm(qt) + 0.5) + 1.0)
          idf * (tf * (k1 + 1.0)) /
            (tf + k1 * (1.0 - b + b * dl / avgdl))
        }
      }.sum
      id -> (math.rint(score * 1e6) / 1e6)
    }.filter(_._2 != 0.0)
  }

  test("engine scores match the independent local replica") {
    val qs = Seq((0L, "a b"), (1L, "c")).toDF("query_id", "query_text")
    val got = Bm25.topK(fixture, qs, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val docs = fixture.as[(Long, String)].collect().toSeq
    val exp0 = localBm25(docs, "a b")
    val exp1 = localBm25(docs, "c")
    assert(got.size == exp0.size + exp1.size)
    exp0.foreach { case (id, s) =>
      assert(math.abs(got((0L, id)) - s) < 1e-9, s"doc $id q0") }
    exp1.foreach { case (id, s) =>
      assert(math.abs(got((1L, id)) - s) < 1e-9, s"doc $id q1") }
  }

  test("tf saturation: more hits score higher but sub-linearly") {
    // same doc length (pad with an off-query term), rising tf
    val docs = Seq(
      (0L, "q x x x x x x x"),
      (1L, "q q x x x x x x"),
      (2L, "q q q q x x x x")).toDF("doc_id", "text")
    val qs = Seq((0L, "q")).toDF("query_id", "query_text")
    val s = Bm25.topK(docs, qs, k = 3).orderBy($"doc_id")
      .select($"score").as[Double].collect()
    assert(s(0) < s(1) && s(1) < s(2), "score must rise with tf")
    assert(s(2) - s(1) < s(1) - s(0),
      "tf gains must saturate (concave), unlike raw tf-idf")
  }

  test("length normalization: same tf, longer doc scores lower") {
    val docs = Seq(
      (0L, "q a"),
      (1L, "q a b c d e f g h i j k")).toDF("doc_id", "text")
    val qs = Seq((0L, "q")).toDF("query_id", "query_text")
    val s = Bm25.topK(docs, qs, k = 2).orderBy($"doc_id")
      .select($"score").as[Double].collect()
    assert(s(0) > s(1), "longer document must be penalized at equal tf")
  }

  test("idf: a rarer term outweighs a common one at equal tf/dl") {
    // 'rare' in 1 of 6 docs, 'common' in 5 of 6; the probe doc holds
    // both once at the same length
    val docs = Seq(
      (0L, "rare common x"),
      (1L, "common y z"),
      (2L, "common y z"),
      (3L, "common y z"),
      (4L, "common y z"),
      (5L, "w y z")).toDF("doc_id", "text")
    val qs = Seq((0L, "rare"), (1L, "common")).toDF("query_id", "query_text")
    val byQ = Bm25.topK(docs, qs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(byQ(0L) > byQ(1L),
      "rank-1 score for the rare term must exceed the common term's")
  }

  private def freshPath(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"bm25_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  test("stored index answers identically to the direct operator") {
    val path = freshPath("rt")
    val qs = Seq((0L, "a b"), (1L, "c")).toDF("query_id", "query_text")
    Bm25.saveIndex(fixture, path)
    val stored = Bm25.queryIndex(Bm25.loadIndex(spark, path), qs, k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val direct = Bm25.topK(fixture, qs, k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(stored == direct && stored.nonEmpty)
  }

  test("append-then-query equals rebuild-from-scratch") {
    val pathApp = freshPath("app")
    val pathFull = freshPath("full")
    val qs = Seq((0L, "a b"), (1L, "c")).toDF("query_id", "query_text")
    Bm25.saveIndex(fixture.filter(col("doc_id") < 2), pathApp)
    Bm25.appendDocs(spark, pathApp, fixture.filter(col("doc_id") >= 2))
    Bm25.saveIndex(fixture, pathFull)
    val appended = Bm25.queryIndex(Bm25.loadIndex(spark, pathApp), qs, k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val rebuilt = Bm25.queryIndex(Bm25.loadIndex(spark, pathFull), qs, k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(appended == rebuilt && appended.nonEmpty)
    // the merged derivative tables are exactly the full-build ones
    val app = Bm25.loadIndex(spark, pathApp)
    val full = Bm25.loadIndex(spark, pathFull)
    val dfApp = app.dfreq.orderBy("tok").collect().map(_.toSeq).toSeq
    val dfFull = full.dfreq.orderBy("tok").collect().map(_.toSeq).toSeq
    assert(dfApp == dfFull)
    assert(app.stats.select("n", "sum_dl").head() ==
      full.stats.select("n", "sum_dl").head())
  }

  test("empty append batch is a legal no-op") {
    val path = freshPath("empty")
    Bm25.saveIndex(fixture, path)
    val before = Bm25.loadIndex(spark, path).stats
      .select("n", "sum_dl").head()
    Bm25.appendDocs(spark, path, fixture.filter(col("doc_id") < 0))
    val after = Bm25.loadIndex(spark, path).stats
      .select("n", "sum_dl").head()
    assert(before == after)
  }

  test("a null-text doc counts in n and adds 0 to sum_dl") {
    // saveIndex's stats contract: n is a direct corpus count, while
    // sum_dl folds out of the postings, where a null text is a
    // zero-token doc (fixture lengths 3 + 2 + 4 + 8 = 17)
    val path = freshPath("nulltext")
    val withNull = fixture.unionByName(
      Seq((4L, None: Option[String])).toDF("doc_id", "text"))
    Bm25.saveIndex(withNull, path)
    val stats = Bm25.loadIndex(spark, path).stats
      .selectExpr("CAST(n AS BIGINT)", "CAST(sum_dl AS BIGINT)").head()
    assert(stats.getLong(0) == 5L, s"n must count the null-text doc: $stats")
    assert(stats.getLong(1) == 17L,
      s"the null-text doc must add 0 to sum_dl: $stats")
  }

  test("percolate excludes null-text docs instead of scoring garbage") {
    val path = freshPath("pnull")
    Bm25.saveIndex(fixture, path)
    val prep = Bm25.preparePercolate(Bm25.loadIndex(spark, path),
      Seq((0L, "a")).toDF("query_id", "query_text"))
    val arriving = Seq((1L, Some("a a")), (2L, None))
      .toDF("doc_id", "text")
    val got = Bm25.percolate(arriving, prep, threshold = 1e-9)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("append rejects colliding doc ids") {
    val path = freshPath("coll")
    Bm25.saveIndex(fixture, path)
    val ex = intercept[IllegalArgumentException] {
      Bm25.appendDocs(spark, path, fixture.filter(col("doc_id") === 1))
    }
    assert(ex.getMessage.contains("collide"))
  }

  test("unstamped and foreign-stamped postings are rejected loudly") {
    val path = freshPath("rej")
    Bm25.saveIndex(fixture, path)
    // the postings written as plain parquet, with no manifest
    val bare = freshPath("rej_bare")
    Bm25.loadIndex(spark, path).postings.write.mode("overwrite")
      .parquet(s"$bare/postings")
    val ex = intercept[IllegalArgumentException] {
      Bm25.loadIndex(spark, bare)
    }
    assert(ex.getMessage.contains("no manifest"))
    graft.store.StoreTestKit.stampForeign(spark, path, "someone-else-v9")
    val ex2 = intercept[IllegalArgumentException] {
      Bm25.loadIndex(spark, path)
    }
    assert(ex2.getMessage.contains("layout"))
  }

  test("percolate is bit-identical to the batch engine above the threshold") {
    val path = freshPath("perc")
    Bm25.saveIndex(fixture, path)
    val qs = Seq((0L, "a b"), (1L, "c"), (2L, "b c")).toDF("query_id", "query_text")
    val prep = Bm25.preparePercolate(Bm25.loadIndex(spark, path), qs)
    val got = Bm25.percolate(fixture, prep, threshold = 1e-9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val batch = Bm25.topK(fixture, qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(got == batch && got.nonEmpty)
  }

  test("percolate thresholding and the never-indexed-term idf") {
    val path = freshPath("perc2")
    Bm25.saveIndex(fixture, path)
    val idx = Bm25.loadIndex(spark, path)
    // 'zzz' was never indexed: df = 0 → max idf; a doc containing it alerts
    val qs = Seq((7L, "zzz")).toDF("query_id", "query_text")
    val prep = Bm25.preparePercolate(idx, qs)
    assert(prep.terms == Seq(7L -> Seq(("zzz",
      math.log((4L - 0L + 0.5) / (0L + 0.5) + 1.0)))))
    val arriving = Seq((100L, "zzz here"), (101L, "nothing")).toDF("doc_id", "text")
    val alerts = Bm25.percolate(arriving, prep, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(alerts == Seq((7L, 100L)))
    intercept[IllegalArgumentException] {
      Bm25.percolate(arriving, prep, threshold = 0.0)
    }
  }

  test("rrfFuse: hand-computed fusion, both-lists beats one-list") {
    val sparse = Seq((0L, 1, 10L), (0L, 2, 11L), (0L, 3, 12L))
      .toDF("query_id", "rank", "doc_id")
    val dense = Seq((0L, 1, 11L), (0L, 2, 20L))
      .toDF("query_id", "rank", "doc_id")
    val fused = Bm25.rrfFuse(Seq(sparse, dense), k = 10)
      .collect().map(r => r.getLong(2) -> (r.getInt(1), r.getDouble(3)))
      .toMap
    def rr(r: Int) = 1.0 / (60 + r)
    def rnd(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 11: rank 2 sparse + rank 1 dense — the only both-lists doc
    assert(fused(11L)._2 == rnd(rr(2) + rr(1)))
    assert(fused(10L)._2 == rnd(rr(1)))
    assert(fused(12L)._2 == rnd(rr(3)))
    assert(fused(20L)._2 == rnd(rr(2)))
    assert(fused(11L)._1 == 1, "the both-lists doc must fuse to rank 1")
    // sparse rank-1 (10) vs dense rank-2 (20): same single-term shape,
    // higher-rank term wins
    assert(fused(10L)._2 > fused(20L)._2)
  }

  test("repeated query terms score once (bag of query TERMS)") {
    val docs = Seq((0L, "q a b")).toDF("doc_id", "text")
    val q1 = Seq((0L, "q")).toDF("query_id", "query_text")
    val q2 = Seq((0L, "q q q")).toDF("query_id", "query_text")
    val s1 = Bm25.topK(docs, q1, k = 1).select($"score").as[Double].head()
    val s2 = Bm25.topK(docs, q2, k = 1).select($"score").as[Double].head()
    assert(s1 == s2)
  }

  test("compactIndex: identical answers back, fewer files") {
    val path = java.nio.file.Files.createTempDirectory("bm25_cmp").toString
    Bm25.saveIndex(fixture, path)
    // several appended generations — the small-files shape
    (1 to 4).foreach { g =>
      Bm25.appendDocs(spark, path,
        Seq((100L * g, s"a b w$g"), (100L * g + 1, s"c w$g w$g"))
          .toDF("doc_id", "text"))
    }
    // parquet files in the file-sets of the `sub` table
    def nParquetFiles(sub: String): Int = {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(hp).filter(_.getPath.getName.startsWith(s"$sub-"))
        .map(d => fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))).sum
    }
    val qs = Seq((0L, "a b c")).toDF("query_id", "query_text")
    def ans() = Bm25.queryIndex(Bm25.loadIndex(spark, path), qs, k = 20)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val before = ans()
    val filesBefore = nParquetFiles("postings")
    Bm25.compactIndex(spark, path)
    assert(ans() == before)
    assert(nParquetFiles("postings") < filesBefore,
      s"compaction did not reduce postings files ($filesBefore -> " +
      s"${nParquetFiles("postings")})")
    // format survived: append still works on the compacted index
    Bm25.appendDocs(spark, path, Seq((999L, "a z")).toDF("doc_id", "text"))
  }

  test("removeDocs == rebuild over the difference; loud guards") {
    val eight = Seq(
      (0L, "a b a"), (1L, "a c"), (2L, "b b b b"), (3L, "a a a a"),
      (4L, "c d e"), (5L, "a d"), (6L, "e e b"), (7L, "c c a b"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("bm25_rm").toString
    Bm25.saveIndex(eight, path)
    Bm25.removeDocs(spark, path, Seq(2L, 5L).toDF("doc_id"))
    val rebuilt =
      java.nio.file.Files.createTempDirectory("bm25_rb").toString
    Bm25.saveIndex(eight.filter(!$"doc_id".isin(2L, 5L)), rebuilt)
    val qs = Seq((0L, "a b"), (1L, "c d e")).toDF("query_id", "query_text")
    def ans(p: String) =
      Bm25.queryIndex(Bm25.loadIndex(spark, p), qs, k = 10)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    // idf re-derives from the decremented (n, df), avgdl from the
    // decremented stats — scores must be EXACTLY the rebuild's
    assert(ans(path) == ans(rebuilt))
    assert(ans(path).nonEmpty)
    // removed ids never answer
    assert(!ans(path).exists(r => r(2) == 2L || r(2) == 5L))
    // the decremented dfreq equals the rebuild's exactly
    val dfreq = Bm25.loadIndex(spark, path).dfreq
      .as[(String, Long)].collect().toMap
    assert(dfreq == Bm25.loadIndex(spark, rebuilt).dfreq
      .as[(String, Long)].collect().toMap)
    // unknown id: loud
    val e1 = intercept[IllegalArgumentException] {
      Bm25.removeDocs(spark, path, Seq(999L).toDF("doc_id"))
    }
    assert(e1.getMessage.contains("no stored postings"))
    // removing everything: loud
    val e2 = intercept[IllegalArgumentException] {
      Bm25.removeDocs(spark, path,
        Seq(0L, 1L, 3L, 4L, 6L, 7L).toDF("doc_id"))
    }
    assert(e2.getMessage.contains("empty"))
  }

  test("percolate-table append == recompile over union; remove == difference") {
    val path = java.nio.file.Files.createTempDirectory("bm25_reg").toString
    Bm25.saveIndex(fixture, path)
    val idx = Bm25.loadIndex(spark, path)
    val reg1 = Seq((1L, "a b"), (2L, "c")).toDF("query_id", "query_text")
    val reg2 = Seq((10L, "b b"), (11L, "a c")).toDF("query_id", "query_text")
    val c1 = Bm25.compilePercolateTable(idx, reg1)
    val appended = Bm25.appendToPercolateTable(idx, c1, reg2)
    val full = Bm25.compilePercolateTable(idx,
      reg1.unionByName(reg2))
    def alerts(c: org.apache.spark.sql.DataFrame) =
      Bm25.percolateJoin(fixture, c, threshold = 0.1)
        .as[(Long, Long, Double)].collect().toSet
    // identical postings and identical alerts to a from-scratch compile
    assert(Bm25.percolatePostings(appended)
        .as[(Long, String, Double)].collect().toSet ==
      Bm25.percolatePostings(full)
        .as[(Long, String, Double)].collect().toSet)
    assert(alerts(appended) == alerts(full))
    // the appended queries actually alert
    assert(alerts(appended).exists(_._1 == 10L))
    // remove == recompile over the difference
    val removed = Bm25.removeFromPercolateTable(appended,
      Seq(2L, 10L).toDF("qid"))
    val diff = Bm25.compilePercolateTable(idx,
      Seq((1L, "a b"), (11L, "a c")).toDF("query_id", "query_text"))
    assert(alerts(removed) == alerts(diff))
    assert(!alerts(removed).exists(p => p._1 == 2L || p._1 == 10L))
    // guards: id clash, unknown removal id, emptying removal
    val e1 = intercept[IllegalArgumentException] {
      Bm25.appendToPercolateTable(idx, c1, reg1)
    }
    assert(e1.getMessage.contains("collide"))
    val e2 = intercept[IllegalArgumentException] {
      Bm25.removeFromPercolateTable(c1, Seq(42L).toDF("qid"))
    }
    assert(e2.getMessage.contains("not in the registry"))
    val e3 = intercept[IllegalArgumentException] {
      Bm25.removeFromPercolateTable(c1, Seq(1L, 2L).toDF("qid"))
    }
    assert(e3.getMessage.contains("empty"))
    // drifted index statistics are rejected: append after an appendDocs
    // must not silently mix corpus models
    Bm25.appendDocs(spark, path, Seq((90L, "f g h")).toDF("doc_id", "text"))
    val drifted = Bm25.loadIndex(spark, path)
    val e4 = intercept[IllegalArgumentException] {
      Bm25.appendToPercolateTable(drifted, c1,
        Seq((50L, "e")).toDF("query_id", "query_text"))
    }
    assert(e4.getMessage.contains("statistics"))
  }

  test("avgdl-preserving drift is caught by the stats fingerprint") {
    // remove doc 1 (dl 2) then append a same-length doc: n and Σdl —
    // and therefore avgdl — are EXACTLY restored, but dfreq changed
    // ('c' lost a doc, 'zq' appeared), so idf drifted. The old
    // avgdl-equality check waved this through (ADVICE r15); the
    // content fingerprint must not.
    val path = java.nio.file.Files.createTempDirectory("bm25_fp").toString
    Bm25.saveIndex(fixture, path)
    val c1 = Bm25.compilePercolateTable(Bm25.loadIndex(spark, path),
      Seq((1L, "a b"), (2L, "c")).toDF("query_id", "query_text"))
    Bm25.removeDocs(spark, path, Seq(1L).toDF("doc_id"))
    Bm25.appendDocs(spark, path, Seq((91L, "a zq")).toDF("doc_id", "text"))
    val drifted = Bm25.loadIndex(spark, path)
    val st = drifted.stats.select(col("n").cast("long"),
      col("sum_dl").cast("long")).head()
    assert(st.getLong(0) == 4L && st.getLong(1) == 17L,
      "fixture drift must preserve n and sum_dl for this test to bite")
    val ex = intercept[IllegalArgumentException] {
      Bm25.appendToPercolateTable(drifted, c1,
        Seq((50L, "e")).toDF("query_id", "query_text"))
    }
    assert(ex.getMessage.contains("fingerprint"))
  }

  test("stored percolate registry: load alerts identically, fp rides") {
    val path = java.nio.file.Files.createTempDirectory("bm25_ps").toString
    Bm25.saveIndex(fixture, path)
    val idx = Bm25.loadIndex(spark, path)
    val compiled = Bm25.compilePercolateTable(idx,
      Seq((1L, "a b"), (2L, "c")).toDF("query_id", "query_text"))
    val store = java.nio.file.Files
      .createTempDirectory("bm25_pstore").toString
    Bm25.savePercolateTable(compiled, store)
    val loaded = Bm25.loadPercolateTable(spark, store)
    def alerts(c: org.apache.spark.sql.DataFrame) =
      Bm25.percolateJoin(fixture, c, threshold = 0.1)
        .as[(Long, Long, Double)].collect().toSet
    assert(alerts(loaded) == alerts(compiled))
    // the frozen-stats fingerprint persists: append on the LOADED
    // registry still proves the index did not drift
    val appended = Bm25.appendToPercolateTable(idx, loaded,
      Seq((10L, "b b")).toDF("query_id", "query_text"))
    assert(alerts(appended).exists(_._1 == 10L))
    // an index mutation AFTER the save is still caught through the store
    Bm25.appendDocs(spark, path, Seq((90L, "f g h")).toDF("doc_id", "text"))
    val drifted = Bm25.loadIndex(spark, path)
    val ex = intercept[IllegalArgumentException] {
      Bm25.appendToPercolateTable(drifted,
        Bm25.loadPercolateTable(spark, store),
        Seq((50L, "e")).toDF("query_id", "query_text"))
    }
    assert(ex.getMessage.contains("fingerprint"))
    // guards: non-compiled frames and foreign stamps
    val e1 = intercept[IllegalArgumentException] {
      Bm25.savePercolateTable(fixture, store + "_x")
    }
    assert(e1.getMessage.contains("qmap"))
    val bad = java.nio.file.Files
      .createTempDirectory("bm25_psbad").toString
    Bm25.savePercolateTable(Bm25.loadPercolateTable(spark, store), bad)
    graft.store.StoreTestKit.stampForeign(spark, bad, "other-v9;buckets=2")
    val e2 = intercept[IllegalArgumentException] {
      Bm25.loadPercolateTable(spark, bad)
    }
    assert(e2.getMessage.contains("recompile"))
  }

  test("compilePercolateTable: loud cap boundary — cap passes, cap+1 raises") {
    val path = java.nio.file.Files.createTempDirectory("bm25_cap").toString
    Bm25.saveIndex(fixture, path)
    val idx = Bm25.loadIndex(spark, path)
    def reg(n: Int) = (1 to n).map(i => (i.toLong, "a b"))
      .toDF("query_id", "query_text")
    // AT the cap: compiles (the cap is inclusive)
    assert(Bm25.compilePercolateTable(idx, reg(5), maxQueries = 5)
      .count() == 1L)
    // cap+1: refuses loudly BEFORE any compile work, naming the bound
    val ex = intercept[IllegalArgumentException] {
      Bm25.compilePercolateTable(idx, reg(6), maxQueries = 5)
    }
    assert(ex.getMessage.contains("1..5") && ex.getMessage.contains("6"))
  }
}
