package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class OpqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def corpus = graft.Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding")
  private def clustered = graft.Tables.clusteredEmbeddings(spark, sf)

  private def maxAbsDiff(a: Array[Array[Double]],
                         b: Array[Array[Double]]): Double =
    a.zip(b).map { case (ra, rb) =>
      ra.zip(rb).map { case (x, y) => math.abs(x - y) }.max }.max

  test("givensRotation is orthogonal and preserves cosines") {
    val r = Opq.givensRotation(64).map(_.toArray).toArray
    val rrt = Opq.matmul(r, Opq.transpose(r))
    val id = Array.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0)
    assert(maxAbsDiff(rrt, id) < 1e-12, "R·Rᵀ != I")
    // cosine invariance through the relational rotation
    val rot = Opq.rotateVectors(corpus.filter($"vec_id" < 20), "embedding",
      Opq.givensRotation(64), "rot")
    val check = rot.select($"vec_id",
        Similarity.cosine(Similarity.asDouble($"embedding"),
          Similarity.asDouble($"embedding")).as("c0"))
      .collect() // warm the plan; real check below
    val pairs = rot.as("a").crossJoin(rot.as("b"))
      .filter($"a.vec_id" < $"b.vec_id")
      .select(
        Similarity.cosine(Similarity.asDouble($"a.embedding"),
          Similarity.asDouble($"b.embedding")).as("orig"),
        Similarity.cosine($"a.rot", $"b.rot").as("rotd"))
      .collect()
    assert(pairs.nonEmpty && check.nonEmpty)
    pairs.foreach(p => assert(
      math.abs(p.getDouble(0) - p.getDouble(1)) < 1e-9,
      s"cosine not preserved: ${p.getDouble(0)} vs ${p.getDouble(1)}"))
  }

  test("rotateVectors matches a driver-side mat-vec") {
    val r = Opq.givensRotation(64)
    val v = corpus.filter($"vec_id" === 5L)
      .select(Similarity.asDouble($"embedding")).as[Seq[Double]].head()
    val expected = r.map(row => row.zip(v).map { case (w, x) => w * x }.sum)
    val got = Opq.rotateVectors(corpus.filter($"vec_id" === 5L),
        "embedding", r, "rot")
      .select($"rot").as[Seq[Double]].head()
    expected.zip(got).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-12, s"$e vs $g") }
  }

  test("procrustes recovers a known rotation from M = Σ x·yᵀ") {
    // y = Q·x for 200 embedding vectors; the Procrustes minimizer of
    // Σ‖R·x − y‖² must be Q itself (S = Σ x·xᵀ is full-rank here)
    val q = Opq.givensRotation(64).map(_.toArray).toArray
    val xs = corpus.filter($"vec_id" < 200)
      .select(Similarity.asDouble($"embedding")).as[Seq[Double]]
      .collect().map(_.toArray)
    val mm = Array.ofDim[Double](64, 64)
    xs.foreach { x =>
      val y = q.map(row => row.zip(x).map { case (w, xi) => w * xi }.sum)
      var i = 0
      while (i < 64) {
        var j = 0
        while (j < 64) { mm(i)(j) += x(i) * y(j); j += 1 }
        i += 1
      }
    }
    val r = Opq.procrustes(mm)
    assert(maxAbsDiff(r, q) < 1e-8,
      s"recovered rotation off by ${maxAbsDiff(r, q)}")
  }

  test("opqTrain: monotone qerr history; beats raw PQ on misaligned clusters") {
    // scramble the clustered fixture with a fixed rotation so the
    // cluster/variance structure straddles PQ's subspace boundaries —
    // the regime OPQ exists for; raw PQ cannot undo the mixing, the
    // learned R can
    val mixed = Opq.rotateVectors(clustered, "embedding",
        Opq.givensRotation(64), "rot")
      .select($"vec_id", $"rot".as("embedding"))
      .localCheckpoint(true)
    val rawErr = Pq.encode(mixed,
        Pq.trainCodebooks(mixed, m = 8, ksub = 16, maxIter = 2)._1, m = 8)
      .agg(sum($"qerr")).head().getDouble(0)
    val (r, cb, hist) = Opq.opqTrain(mixed, m = 8, ksub = 16,
      outerIters = 3, lloydIters = 2)
    hist.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a * 1.001 + 1e-9,
        s"opq qerr rose: $a -> $b (history $hist)")
      case _         =>
    }
    val opqErr = hist.last
    assert(opqErr <= rawErr + 1e-9,
      s"OPQ should encode no worse than raw PQ: raw $rawErr opq $opqErr")
    // the learned rotation is genuinely orthogonal
    val rr = r.map(_.toArray).toArray
    val rrt = Opq.matmul(rr, Opq.transpose(rr))
    val id = Array.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0)
    assert(maxAbsDiff(rrt, id) < 1e-8, "learned R drifted off orthogonal")
    assert(cb.count() == 8 * 16)
  }

  test("opqTopK recall >= raw ivfPqTopK recall on the clustered fixture") {
    val c = clustered.localCheckpoint(true)
    val qs = c.filter($"vec_id" % 25 === 11).limit(20)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      .localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(c, qs, k = 5)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"query_id", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val raw = recallOf(Pq.ivfPqTopK(c, qs, k = 5, nCells = 8, nProbe = 4,
      m = 8, ksub = 16, trainIters = 2))
    val (r, _, _) = Opq.opqTrain(c, m = 8, ksub = 16, outerIters = 2,
      lloydIters = 2)
    val opq = recallOf(Opq.opqTopK(c, qs, r, k = 5, nCells = 8, nProbe = 4,
      m = 8, ksub = 16, trainIters = 2))
    assert(opq >= raw - 0.05,
      s"OPQ recall $opq fell below raw PQ recall $raw")
  }

  test("appendVectors: stored-OPQ append equals a rebuild over the union") {
    // id-prefix split so the seed codebooks/centroids (first ksub ids)
    // are identical for the incremental and rebuilt indexes — the
    // PqIndexSpec convention
    val base = corpus.filter($"vec_id" < 30)
    val extra = corpus.filter($"vec_id" >= 30)
    val r = Opq.givensRotation(64)
    val pathInc =
      java.nio.file.Files.createTempDirectory("opq_inc").toString
    Opq.saveIndex(base, pathInc, r, nCells = 8, m = 8, ksub = 16)
    Opq.appendVectors(spark, pathInc, extra)
    val pathFull =
      java.nio.file.Files.createTempDirectory("opq_full").toString
    Opq.saveIndex(corpus, pathFull, r, nCells = 8, m = 8, ksub = 16)
    val qs = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    def answers(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "rank", "neighbor_id", "adc")
        .collect().map(_.toSeq).toSeq
    val inc = answers(Opq.queryIndex(Opq.loadIndex(spark, pathInc),
      qs, k = 5, nProbe = 8))
    val full = answers(Opq.queryIndex(Opq.loadIndex(spark, pathFull),
      qs, k = 5, nProbe = 8))
    assert(inc == full)
    // the appended ids actually answer (rotated with the stored R —
    // an unrotated append would rank them as garbage, not win)
    assert(Opq.queryIndex(Opq.loadIndex(spark, pathInc), qs, k = 50,
        nProbe = 8)
      .filter($"neighbor_id" >= 30).count() > 0)
    // a wrong-width batch is rejected BEFORE rotating: rotateVectors
    // coerces any width to rotation.length (zip_with null-pads), so
    // without this guard a 32-wide batch would append null/garbage codes
    // that pass Pq's own dim check
    val narrow = extra.select(($"vec_id" + 100000L).as("vec_id"),
      slice($"embedding", 1, 32).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Opq.appendVectors(spark, pathInc, narrow)
    }
    assert(ex.getMessage.contains("width"))
  }

  test("acceptRotation: a recall-losing candidate is rejected for identity") {
    val c = corpus.filter($"vec_id" < 200)
    // adversarial candidate: every output coordinate is the same mean
    // of the input — all vectors collapse to one line, ADC ranking
    // becomes noise, held-out recall craters below not-rotating
    val flat = Seq.fill(64)(Seq.fill(64)(1.0 / 64))
    val acc = Opq.acceptRotation(c, flat, k = 5, nCells = 8, nProbe = 8,
      m = 8, ksub = 16, maxHoldout = 20L)
    assert(acc.chosen == "identity")
    assert(acc.identityRecall > acc.trainedRecall,
      s"expected the collapse rotation to lose: trained=" +
      s"${acc.trainedRecall} identity=${acc.identityRecall}")
    // the returned rotation IS the identity, not the loser
    assert(acc.rotation.zipWithIndex.forall { case (row, i) =>
      row.zipWithIndex.forall { case (x, j) =>
        x == (if (i == j) 1.0 else 0.0) } })
    // a candidate that TIES keeps the candidate (identity vs identity:
    // equal recall, ties go to the trained arm)
    val id = Seq.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0)
    val accId = Opq.acceptRotation(c, id, k = 5, nCells = 8, nProbe = 8,
      m = 8, ksub = 16, maxHoldout = 20L)
    assert(accId.chosen == "trained")
    assert(accId.trainedRecall == accId.identityRecall)
  }

  test("acceptRotation: lossless corpus at full probe reads recall 1.0") {
    // Corpus of exact duplicates of the first ksub rows: every
    // normalized subvector IS a seed codeword, so PQ encoding is
    // lossless and full-probe ADC ranking equals exact cosine ranking
    // (duplicates tie at ADC == cosine == 1.0 and both arms break
    // ties by asc neighbor_id). With the ADC shortlist self-excluded
    // SYMMETRICALLY with the exact ground truth (VERDICT r16 #3),
    // both arms' holdout recalls must read exactly 1.0 — any
    // self-slot leak or asymmetry deflates one of them below 1.
    val bases = corpus.filter($"vec_id" < 16)
      .select($"vec_id".as("base_id"), $"embedding")
    val c = spark.range(0, 192).toDF("vec_id")
      .join(bases, pmod($"vec_id", lit(16)) === $"base_id")
      .select($"vec_id", $"embedding")
      .localCheckpoint(true)
    val id = Seq.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0)
    val acc = Opq.acceptRotation(c, id, k = 5, nCells = 8, nProbe = 8,
      m = 8, ksub = 16, maxHoldout = 24L)
    assert(acc.trainedRecall == 1.0,
      s"lossless trained arm reads ${acc.trainedRecall}, not 1.0 — " +
      "self-slot leak or ADC/exact asymmetry")
    assert(acc.identityRecall == 1.0,
      s"lossless identity arm reads ${acc.identityRecall}, not 1.0 — " +
      "self-slot leak or ADC/exact asymmetry")
  }

  test("opqTrainAccepted: decision rule matches the measured recalls") {
    val acc = Opq.opqTrainAccepted(clustered, m = 8, ksub = 16,
      outerIters = 1, lloydIters = 2, k = 5, nCells = 8, nProbe = 8,
      maxHoldout = 20L)
    assert(Set("trained", "identity").contains(acc.chosen))
    assert((acc.chosen == "trained") ==
      (acc.trainedRecall >= acc.identityRecall))
    assert(acc.rotation.length == 64 && acc.rotation.forall(_.length == 64))
    assert(acc.qerrHistory.nonEmpty)
  }

  test("saveIndex stamps the acceptance verdict; loadIndex returns it") {
    val path = java.nio.file.Files.createTempDirectory("opq_chosen").toString
    Opq.saveIndex(corpus, path, Opq.givensRotation(64), nCells = 8, m = 8,
      ksub = 16, chosen = "identity")
    assert(Opq.loadIndex(spark, path).chosen.contains("identity"))
    // an index saved without provenance reads back None (legacy stamps)
    val path2 = java.nio.file.Files.createTempDirectory("opq_noch").toString
    Opq.saveIndex(corpus, path2, Opq.givensRotation(64), nCells = 8, m = 8,
      ksub = 16)
    assert(Opq.loadIndex(spark, path2).chosen.isEmpty)
  }

  test("appendVectors: guards catch a bad row past row 1 and empty batches") {
    val path = java.nio.file.Files.createTempDirectory("opq_guard").toString
    Opq.saveIndex(corpus.filter($"vec_id" < 30), path,
      Opq.givensRotation(64), nCells = 8, m = 8, ksub = 16)
    // first row well-formed, second row narrow — the head()-only check
    // this guard replaced would have waved the batch through (ADVICE
    // r15) and null-padded garbage into the persisted codes
    val mixed = corpus.filter($"vec_id" === 30L)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
      .unionByName(corpus.filter($"vec_id" === 31L)
        .select(($"vec_id" + 100000L).as("vec_id"),
          slice($"embedding", 1, 32).as("embedding")))
    val ex = intercept[IllegalArgumentException] {
      Opq.appendVectors(spark, path, mixed)
    }
    assert(ex.getMessage.contains("width"))
    val ex2 = intercept[IllegalArgumentException] {
      Opq.appendVectors(spark, path, corpus.filter($"vec_id" < 0))
    }
    assert(ex2.getMessage.contains("empty batch"))
  }

  test("stored index round-trip: queryIndex == opqTopK; stamps enforced") {
    val path = java.nio.file.Files.createTempDirectory("opq_idx").toString
    val r = Opq.givensRotation(64)
    Opq.saveIndex(corpus, path, r, nCells = 8, m = 8, ksub = 16)
    val qs = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val direct = Opq.opqTopK(corpus, qs, r, k = 5, nCells = 8, nProbe = 4,
        m = 8, ksub = 16)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val stored = Opq.queryIndex(Opq.loadIndex(spark, path), qs, k = 5,
        nProbe = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(stored == direct)
    // a foreign rotation stamp is rejected loudly
    val bad = java.nio.file.Files.createTempDirectory("opq_bad").toString
    Opq.saveIndex(corpus.filter($"vec_id" < 40), bad, r, nCells = 8, m = 8,
      ksub = 16)
    val m = graft.store.Store.manifest(spark, bad).get
    graft.store.Store.commit(spark, bad, Some(m), m.format, m.schemas,
      m.fileSets, m.values + ("rotation" -> "other-format-v9"))
    val ex = intercept[IllegalArgumentException] {
      Opq.loadIndex(spark, bad)
    }
    assert(ex.getMessage.contains("rebuild"))
  }

  test("a dense 1024-dim rotation round-trips through save, re-save and load") {
    // ~20 characters per entry: as one manifest string the matrix would
    // pass the JSON reader's 20M-character cap and break every later load
    val dim = 1024
    val rnd = new scala.util.Random(7)
    val r = Seq.fill(dim, dim)(rnd.nextGaussian() / 32.0)
    val vecs = (0L until 24L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("opq_dense").toString
    Opq.saveIndex(vecs, path, r, nCells = 2, m = 8, ksub = 4)
    Opq.saveIndex(vecs, path, r, nCells = 2, m = 8, ksub = 4)
    val idx = Opq.loadIndex(spark, path)
    assert(idx.rotation == r)
    assert(idx.pq.dim == dim && idx.pq.codes.count() == 24L)
  }
}
