package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Percolated containment: a compiled registry probed per-row by
  * arriving documents. Contracts: exact |A∩D|/|A| equality with a
  * brute-force restatement, a stateless plan below the ×1-row
  * broadcast (stream-static legal), streaming append == batch, and
  * loud compile-time guards.
  */
class ContainmentProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def setsOf(rows: Seq[(Long, String)]) =
    rows.toDF("id", "text").select(col("id"),
      split(col("text"), " ").as("toks"))

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val registry = Seq(
    (1L, "a b c"),
    (2L, "d e"),
    (3L, "a b c d e f g h"))
  private val docs = Seq(
    (10L, "a b c x y"),     // contains reg 1 fully
    (11L, "d e"),           // contains reg 2 fully
    (12L, "a b d e f g h"), // reg 3 at 7/8, reg 2 fully
    (13L, "z z2 z3"))       // contains nothing

  private def brute(t: Double): Set[(Long, Long, Long, Double)] = {
    val reg = registry.map { case (id, s) => id -> s.split(" ").toSet }
    val ds = docs.map { case (id, s) => id -> s.split(" ").toSet }
    (for {
      (q, qs) <- reg; (d, dset) <- ds
      inter = (qs & dset).size.toLong
      c = r6(inter.toDouble / qs.size)
      if c >= t
    } yield (q, d, inter, c)).toSet
  }

  private def probe(t: Double): Set[(Long, Long, Long, Double)] = {
    val compiled = SetSimJoin.compileContainmentRegistry(
      setsOf(registry), "id", "toks")
    SetSimJoin.containmentProbe(setsOf(docs), compiled, t,
        idCol = "id", toksCol = "toks")
      .as[(Long, Long, Long, Double)].collect().toSet
  }

  test("probe equals brute-force directed containment across thresholds") {
    for (t <- Seq(0.3, 0.5, 0.875, 0.9, 1.0))
      assert(probe(t) == brute(t), s"threshold $t")
    // and the planted shapes are really there
    assert(probe(1.0).map(p => (p._1, p._2)) ==
      Set((1L, 10L), (2L, 11L), (2L, 12L)))
  }

  test("plan below the broadcast is stateless: no exchange, no aggregate") {
    val compiled0 = SetSimJoin.compileContainmentRegistry(
      setsOf(registry), "id", "toks")
    // materialize the one-row side first so its plan doesn't appear
    val frozen = {
      val r = compiled0.collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(r.toIndexedSeq), compiled0.schema)
    }
    val p = SetSimJoin.containmentProbe(setsOf(docs), frozen, 0.9,
        idCol = "id", toksCol = "toks")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning") &&
      !p.contains("ShuffleExchange"),
      s"containmentProbe plan shuffles:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"containmentProbe plan aggregates:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the x1-row broadcast join:\n$p")
  }

  test("streaming docs: append-mode run equals the batch run") {
    implicit val sq = spark.sqlContext
    val compiled = SetSimJoin.compileContainmentRegistry(
      setsOf(registry), "id", "toks")
    def asQuads(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSet
    val batch = asQuads(SetSimJoin.containmentProbe(setsOf(docs),
      compiled, 0.875, idCol = "id", toksCol = "toks"))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val streamed = in.toDF().toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("toks"))
    val q = SetSimJoin.containmentProbe(streamed, compiled, 0.875,
        idCol = "id", toksCol = "toks")
      .writeStream.format("memory").queryName("contain_stream")
      .outputMode("append").start()
    try {
      val (h1, h2) = docs.splitAt(docs.length / 2)
      in.addData(h1); q.processAllAvailable()
      in.addData(h2); q.processAllAvailable()
    } finally q.stop()
    assert(asQuads(spark.table("contain_stream")) == batch)
    assert(batch.nonEmpty)
  }

  test("docContainmentProbe equals brute-force |A∩D|/|D| (reverse direction)") {
    val compiled = SetSimJoin.compileContainmentRegistry(
      setsOf(registry), "id", "toks")
    def bruteDoc(t: Double): Set[(Long, Long, Long, Double)] = {
      val reg = registry.map { case (id, s) => id -> s.split(" ").toSet }
      val ds = docs.map { case (id, s) => id -> s.split(" ").toSet }
      (for {
        (q, qs) <- reg; (d, dset) <- ds
        inter = (qs & dset).size.toLong
        c = r6(inter.toDouble / dset.size)
        if c >= t
      } yield (q, d, inter, c)).toSet
    }
    for (t <- Seq(0.3, 0.5, 0.857, 1.0)) {
      val got = SetSimJoin.docContainmentProbe(setsOf(docs), compiled, t,
          idCol = "id", toksCol = "toks")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == bruteDoc(t), s"threshold $t")
    }
    // the boilerplate shapes: doc 11 "d e" and doc 12 (all 7 tokens)
    // are WHOLLY inside reg 3's 8-token set — doc containment 1.0
    // where the registry direction reads only 2/8 and 7/8
    val exact = SetSimJoin.docContainmentProbe(setsOf(docs), compiled, 1.0,
        idCol = "id", toksCol = "toks")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(exact.map(p => (p._1, p._2)) ==
      Set((2L, 11L), (3L, 11L), (3L, 12L)))
    val fwd = SetSimJoin.containmentProbe(setsOf(docs), compiled, 1.0,
        idCol = "id", toksCol = "toks")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(fwd.map(p => (p._1, p._2)) == Set((1L, 10L), (2L, 11L), (2L, 12L)))
  }

  test("jaccardProbe equals brute-force registry-vs-doc jaccard") {
    val compiled = SetSimJoin.compileContainmentRegistry(
      setsOf(registry), "id", "toks")
    def bruteJ(t: Double): Set[(Long, Long, Long, Double)] = {
      val reg = registry.map { case (id, s) => id -> s.split(" ").toSet }
      val ds = docs.map { case (id, s) => id -> s.split(" ").toSet }
      (for {
        (q, qs) <- reg; (d, dset) <- ds
        inter = (qs & dset).size.toLong
        j = r6(inter.toDouble / (qs.size + dset.size - inter))
        if j >= t
      } yield (q, d, inter, j)).toSet
    }
    for (t <- Seq(0.2, 0.5, 0.6, 1.0)) {
      val got = SetSimJoin.jaccardProbe(setsOf(docs), compiled, t,
          idCol = "id", toksCol = "toks")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == bruteJ(t), s"threshold $t")
    }
    // the exact-duplicate shape: reg 2 "d e" vs doc 11 "d e" → 1.0
    val exact = SetSimJoin.jaccardProbe(setsOf(docs), compiled, 1.0,
        idCol = "id", toksCol = "toks")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(exact.map(p => (p._1, p._2)) == Set((2L, 11L)))
  }

  test("jaccardProbe streaming append == batch (shared stateless core)") {
    implicit val sq = spark.sqlContext
    val compiled = SetSimJoin.compileContainmentRegistry(
      setsOf(registry), "id", "toks")
    def asQuads(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSet
    val batch = asQuads(SetSimJoin.jaccardProbe(setsOf(docs),
      compiled, 0.4, idCol = "id", toksCol = "toks"))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val streamed = in.toDF().toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("toks"))
    val q = SetSimJoin.jaccardProbe(streamed, compiled, 0.4,
        idCol = "id", toksCol = "toks")
      .writeStream.format("memory").queryName("jac_stream")
      .outputMode("append").start()
    try {
      in.addData(docs); q.processAllAvailable()
    } finally q.stop()
    assert(asQuads(spark.table("jac_stream")) == batch)
    assert(batch.nonEmpty)
  }

  test("compile guards: empty registry, empty set, null id, caps") {
    intercept[IllegalArgumentException] {
      SetSimJoin.compileContainmentRegistry(
        setsOf(Seq.empty), "id", "toks")
    }
    val withEmpty = Seq((1L, "a b"), (2L, ""))
    val e1 = intercept[IllegalArgumentException] {
      SetSimJoin.compileContainmentRegistry(
        setsOf(withEmpty).withColumn("toks",
          filter(col("toks"), x => x =!= "")), "id", "toks")
    }
    assert(e1.getMessage.contains("empty token sets"))
    val e2 = intercept[IllegalArgumentException] {
      SetSimJoin.compileContainmentRegistry(
        setsOf(registry).withColumn("id",
          when(col("id") === 1L, lit(null)).otherwise(col("id"))),
        "id", "toks")
    }
    assert(e2.getMessage.contains("null"))
    val e3 = intercept[IllegalArgumentException] {
      SetSimJoin.compileContainmentRegistry(
        setsOf(registry), "id", "toks", maxQueries = 2)
    }
    assert(e3.getMessage.contains("1..2"))
    val e4 = intercept[IllegalArgumentException] {
      SetSimJoin.compileContainmentRegistry(
        setsOf(registry), "id", "toks", maxPostings = 3)
    }
    assert(e4.getMessage.contains("postings"))
  }

  test("duplicate qids are rejected at compile, including long-cast collisions") {
    // plain duplicate long ids
    val e = intercept[IllegalArgumentException] {
      SetSimJoin.compileContainmentRegistry(
        setsOf(Seq((1L, "a b"), (1L, "c d"))), "id", "toks")
    }
    assert(e.getMessage.contains("duplicate"))
    // distinct STRING ids that collide only after cast('long'): '1' and
    // '01' — the silent-merge shape the guard exists for (adjacent
    // postings in the qid-major fold would sum inter across rows and
    // containment could exceed 1.0)
    val strIds = Seq(("1", "a b"), ("01", "c d")).toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("toks"))
    val e2 = intercept[IllegalArgumentException] {
      SetSimJoin.compileContainmentRegistry(strIds, "id", "toks")
    }
    assert(e2.getMessage.contains("duplicate"))
  }

  test("probe is ANSI-safe: registry misses yield no entries, not errors") {
    // under spark.sql.ansi.enabled=true a plain element_at raises
    // MAP_KEY_DOES_NOT_EXIST for any doc token absent from the registry
    // (i.e. almost every probe) — the try_element_at probe must return
    // the identical result under both regimes
    val before = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      for (t <- Seq(0.5, 0.9)) assert(probe(t) == brute(t), s"threshold $t")
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  test("stored registry: save -> load probes and maintains identically") {
    val compiled = SetSimJoin.compileContainmentRegistry(
      setsOf(registry), "id", "toks")
    val path = java.nio.file.Files
      .createTempDirectory("setsim_regstore").toString
    SetSimJoin.saveContainmentRegistry(compiled, path)
    val loaded = SetSimJoin.loadContainmentRegistry(spark, path)
    def alerts(c: org.apache.spark.sql.DataFrame, t: Double) =
      SetSimJoin.containmentProbe(setsOf(docs), c, t,
          idCol = "id", toksCol = "toks")
        .as[(Long, Long, Long, Double)].collect().toSet
    for (t <- Seq(0.5, 0.875, 1.0))
      assert(alerts(loaded, t) == alerts(compiled, t), s"threshold $t")
    // maintenance members work on the LOADED frame unchanged
    val appended = SetSimJoin.appendToContainmentRegistry(loaded,
      setsOf(Seq((9L, "z z2 z3"))), "id", "toks")
    assert(alerts(appended, 1.0).exists(_._1 == 9L))
    assert(SetSimJoin.registryPostings(loaded)
        .as[(Long, String, Long)].collect().toSet ==
      SetSimJoin.registryPostings(compiled)
        .as[(Long, String, Long)].collect().toSet)
    // guards: non-compiled frames, multi-row frames, foreign stamps
    val e1 = intercept[IllegalArgumentException] {
      SetSimJoin.saveContainmentRegistry(setsOf(registry), path + "_x")
    }
    assert(e1.getMessage.contains("qmap"))
    val bad = java.nio.file.Files
      .createTempDirectory("setsim_regbad").toString
    SetSimJoin.saveContainmentRegistry(compiled, bad)
    graft.store.StoreTestKit.stampForeign(spark, bad, "other-v9;buckets=2")
    val e2 = intercept[IllegalArgumentException] {
      SetSimJoin.loadContainmentRegistry(spark, bad)
    }
    assert(e2.getMessage.contains("recompile"))
  }
}
