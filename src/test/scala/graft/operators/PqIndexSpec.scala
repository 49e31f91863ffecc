package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Stored IVF-PQ index lifecycle: build-once/answer-forever parity with
  * the direct operator, append-only growth equal to a rebuild, and the
  * loud version/geometry rejection contract (the manifest-stamp
  * convention of every stored table, applied to ANN indexes).
  */
class PqIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def corpus = graft.Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding")
  private def queries = corpus.filter($"vec_id" < 3)
    .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))

  private def freshPath(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"pqidx_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def answers(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank")
      .select("query_id", "rank", "neighbor_id", "adc")
      .collect().map(_.toSeq).toSeq

  test("stored index answers identically to the direct operator") {
    val path = freshPath("rt")
    Pq.saveIndex(corpus, path, nCells = 8, m = 8, ksub = 16)
    val idx = Pq.loadIndex(spark, path)
    assert((idx.m, idx.ksub, idx.nCells, idx.dim) == (8, 16, 8, 64))
    val stored = answers(Pq.queryIndex(idx, queries, k = 5, nProbe = 4))
    val direct = answers(Pq.ivfPqTopK(corpus, queries, k = 5, nCells = 8,
      nProbe = 4, m = 8, ksub = 16))
    assert(stored == direct)
    assert(stored.nonEmpty)
  }

  test("append-only growth equals a rebuild from scratch") {
    val base = corpus.filter($"vec_id" < 30)
    val extra = corpus.filter($"vec_id" >= 30)
    val pathInc = freshPath("inc")
    Pq.saveIndex(base, pathInc, nCells = 8, m = 8, ksub = 16)
    Pq.appendVectors(spark, pathInc, extra)
    val pathFull = freshPath("full")
    Pq.saveIndex(corpus, pathFull, nCells = 8, m = 8, ksub = 16)
    val inc = answers(Pq.queryIndex(Pq.loadIndex(spark, pathInc),
      queries, k = 5, nProbe = 8))
    val full = answers(Pq.queryIndex(Pq.loadIndex(spark, pathFull),
      queries, k = 5, nProbe = 8))
    assert(inc == full)
    // the appended ids actually answer
    assert(Pq.queryIndex(Pq.loadIndex(spark, pathInc), queries, k = 50,
        nProbe = 8)
      .filter($"neighbor_id" >= 30).count() > 0)
  }

  test("residual stored index: res flag round-trips, answers == direct") {
    val path = freshPath("res")
    Pq.saveIndex(corpus, path, nCells = 8, m = 8, ksub = 16,
      residual = true)
    val idx = Pq.loadIndex(spark, path)
    assert(idx.residual, "res=1 stamp must parse back as residual")
    val stored = answers(Pq.queryIndex(idx, queries, k = 5, nProbe = 4))
    val direct = answers(Pq.ivfPqTopK(corpus, queries, k = 5, nCells = 8,
      nProbe = 4, m = 8, ksub = 16, residual = true))
    assert(stored == direct)
    assert(stored.nonEmpty)
  }

  test("residual append-only growth equals a residual rebuild") {
    val base = corpus.filter($"vec_id" < 30)
    val extra = corpus.filter($"vec_id" >= 30)
    val pathInc = freshPath("resinc")
    Pq.saveIndex(base, pathInc, nCells = 8, m = 8, ksub = 16,
      residual = true)
    Pq.appendVectors(spark, pathInc, extra)
    val pathFull = freshPath("resfull")
    Pq.saveIndex(corpus, pathFull, nCells = 8, m = 8, ksub = 16,
      residual = true)
    val inc = answers(Pq.queryIndex(Pq.loadIndex(spark, pathInc),
      queries, k = 5, nProbe = 8))
    val full = answers(Pq.queryIndex(Pq.loadIndex(spark, pathFull),
      queries, k = 5, nProbe = 8))
    assert(inc == full)
  }

  test("an unstamped codes table is rejected with rebuild instructions") {
    val path = freshPath("unstamped")
    Pq.saveIndex(corpus, path, nCells = 8, m = 8, ksub = 16)
    // the codes written as plain parquet, with no manifest
    val bare = freshPath("unstamped_bare")
    Pq.loadIndex(spark, path).codes.write.mode("overwrite")
      .parquet(s"$bare/codes")
    val ex = intercept[IllegalArgumentException] {
      Pq.loadIndex(spark, bare)
    }
    assert(ex.getMessage.contains("no manifest"))
    assert(ex.getMessage.contains("saveIndex"))
  }

  test("a foreign layout stamp is rejected") {
    val path = freshPath("foreign")
    Pq.saveIndex(corpus, path, nCells = 8, m = 8, ksub = 16)
    graft.store.StoreTestKit.stampForeign(spark, path, "someones-else-v9;m=8")
    val ex = intercept[IllegalArgumentException] {
      Pq.loadIndex(spark, path)
    }
    assert(ex.getMessage.contains("layout"))
  }

  test("append rejects colliding ids and mismatched width loudly") {
    val path = freshPath("guards")
    Pq.saveIndex(corpus, path, nCells = 8, m = 8, ksub = 16)
    val collide = intercept[IllegalArgumentException] {
      Pq.appendVectors(spark, path, corpus.filter($"vec_id" < 5))
    }
    assert(collide.getMessage.contains("collide"))
    val narrowed = corpus.limit(1)
      .select(($"vec_id" + 100000L).as("vec_id"),
        slice($"embedding", 1, 32).as("embedding"))
    val width = intercept[IllegalArgumentException] {
      Pq.appendVectors(spark, path, narrowed)
    }
    assert(width.getMessage.contains("width"))
  }

  test("append refuses a batch whose second row is short; the old version stays") {
    val path = freshPath("short")
    Pq.saveIndex(corpus.filter($"vec_id" < 30), path, nCells = 8, m = 8,
      ksub = 16)
    def rows(): Long = Pq.loadIndex(spark, path).codes.count()
    val before = rows()
    // a well-formed first row hides the short second one from any
    // first-row width check
    val batch = corpus.filter($"vec_id" >= 30 && $"vec_id" < 33)
      .select($"vec_id", when($"vec_id" === 31L, slice($"embedding", 1, 60))
        .otherwise($"embedding").as("embedding"))
      .orderBy("vec_id")
    val ex = intercept[IllegalArgumentException] {
      Pq.appendVectors(spark, path, batch)
    }
    assert(ex.getMessage.contains("'31' has vector width 60"))
    assert(rows() == before)
  }

  test("compactCodes: identical answers back, fewer files") {
    val path = freshPath("cmp")
    Pq.saveIndex(corpus.filter($"vec_id" < 100), path, nCells = 8,
      m = 8, ksub = 16)
    // several appended generations — the small-files shape
    Seq((100L, 200L), (200L, 300L), (300L, 400L), (400L, 500L)).foreach {
      case (lo, hi) =>
        Pq.appendVectors(spark, path,
          corpus.filter($"vec_id" >= lo && $"vec_id" < hi))
    }
    def nParquetFiles(): Int = {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(hp, true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = answers(Pq.queryIndex(Pq.loadIndex(spark, path),
      queries, k = 5, nProbe = 8))
    val filesBefore = nParquetFiles()
    Pq.compactCodes(spark, path)
    assert(answers(Pq.queryIndex(Pq.loadIndex(spark, path),
      queries, k = 5, nProbe = 8)) == before)
    assert(nParquetFiles() < filesBefore,
      s"compaction did not reduce files ($filesBefore -> ${nParquetFiles()})")
    // the compacted index still appends (stamp survived)
    Pq.appendVectors(spark, path,
      corpus.limit(1).select(($"vec_id" + 50000L).as("vec_id"),
        $"embedding"))
  }

  test("removeVectors == rebuild over the difference; removed ids stop " +
       "answering; loud guards") {
    val pathRm = freshPath("rm")
    Pq.saveIndex(corpus, pathRm, nCells = 8, m = 8, ksub = 16)
    // removal ids past the seed window (>= max(nCells, ksub)) so the
    // rebuilt index seeds identical centroids/codebooks and the
    // equality is EXACT, not approximate
    val gone = Seq(40L, 41L, 55L)
    Pq.removeVectors(spark, pathRm, gone.toDF("vec_id"))
    val pathRb = freshPath("rb")
    Pq.saveIndex(corpus.filter(!$"vec_id".isin(gone: _*)), pathRb,
      nCells = 8, m = 8, ksub = 16)
    val removedAns = answers(Pq.queryIndex(Pq.loadIndex(spark, pathRm),
      queries, k = 5, nProbe = 8))
    val rebuiltAns = answers(Pq.queryIndex(Pq.loadIndex(spark, pathRb),
      queries, k = 5, nProbe = 8))
    assert(removedAns == rebuiltAns)
    assert(removedAns.nonEmpty)
    // removed ids never answer, at any depth
    assert(Pq.queryIndex(Pq.loadIndex(spark, pathRm), queries, k = 1000,
        nProbe = 8)
      .filter($"neighbor_id".isin(gone: _*)).count() == 0)
    // unknown id: loud, not a silent no-op
    val e1 = intercept[IllegalArgumentException] {
      Pq.removeVectors(spark, pathRm, Seq(999999L).toDF("vec_id"))
    }
    assert(e1.getMessage.contains("not in the stored index"))
    // removing everything: loud
    val remainingIds = Pq.loadIndex(spark, pathRm).codes
      .select($"pq_id").as[Long].collect().toSeq
    val e2 = intercept[IllegalArgumentException] {
      Pq.removeVectors(spark, pathRm, remainingIds.toDF("vec_id"))
    }
    assert(e2.getMessage.contains("empty"))
    // the OPQ wrapper removes through the same path
    val pathOpq = freshPath("opqrm")
    Opq.saveIndex(corpus, pathOpq, Opq.givensRotation(64), nCells = 8,
      m = 8, ksub = 16)
    Opq.removeVectors(spark, pathOpq, Seq(40L).toDF("vec_id"))
    assert(Opq.queryIndex(Opq.loadIndex(spark, pathOpq), queries, k = 1000,
        nProbe = 8)
      .filter($"neighbor_id" === 40L).count() == 0)
  }
}
