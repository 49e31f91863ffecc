package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SetSimJoin

/** Data-dominated scaling arms for the INCREMENTAL set-similarity
  * joins (VERDICT r15 "what's missing" #2; archive regime extended per
  * VERDICT r16 #2): their batch-proportional claim was plan-verified
  * (Bloom prune + broadcast measurements) but needed curve
  * measurement. Two arms, one warm JVM:
  *
  *  - BATCH arm: one stored archive (the q_incremental_setsim store
  *    shape), batch sizes scaled by taking every (mod m)-th archive
  *    doc as a nearmark clone, m ∈ {40, 20, 10, 5} — candidates and
  *    verify work scale with the batch while the archive is constant.
  *    Expected: wall ≈ affine in batch rows (a batch-linear join term
  *    over an archive-scan intercept); a superlinear term here is a
  *    regression the small gates cannot see.
  *  - ARCHIVE arm: fixed batch (clones of copy-0 docs), archives at
  *    the given factors built from tagged copies that share NO content
  *    (the ProfileScale protocol, so candidate volume stays constant).
  *    Archives are STAGED ONCE per (dataDir, factor) under a
  *    deterministic path and reused across reps and runs — at the 50×+
  *    factors the r16 item asks for, building the store costs far more
  *    than probing it, and re-staging per run would re-create exactly
  *    the setup-dominated regime the r14/r15 bench items eliminated.
  *    Expected: wall grows ~linearly in the archive with a small
  *    constant (stored-side scan + prefix explode is archive-sized;
  *    the Bloom prune keeps the candidate EXCHANGE batch-proportional
  *    — shuffle bytes per run are recorded to pin exactly that claim).
  *    The top factor also times the full REBUILD (jaccardPairs over
  *    store ∪ batch) — the cost incremental exists to avoid.
  *
  * Usage: `ProfileIncScale <sfDir> [reps] [batchMods] [archFactors]`
  * (csv, defaults 40,20,10,5 and 1,2,4 — pass e.g. 1,8,32,64 for the
  * data-dominated curve). Dev-only instrument.
  */
object ProfileIncScale {

  private def steal(): Long =
    scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).map(_.split("\\s+")(8).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val d = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val batchMods = (if (args.length > 2) args(2) else "40,20,10,5")
      .split(',').map(_.trim.toInt).toSeq
    val archFactors = (if (args.length > 3) args(3) else "1,2,4")
      .split(',').map(_.trim.toInt).toSeq
    val spark =
      GraftSession.local(GraftSession.cpus(default = 32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // per-run shuffle-byte accounting (VERDICT r16 #2: the
    // batch-proportional claim is a claim about the candidate
    // EXCHANGE, so record it, not just wall)
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            ()
          }
        }
      })
    // GRAFT_INC_STAGES=1: per-stage shuffle attribution (which exchange
    // moves the bytes)
    val stageMeter =
      scala.collection.concurrent.TrieMap.empty[Int, (String, Long, Long)]
    if (sys.env.contains("GRAFT_INC_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val i = sc.stageInfo
            stageMeter.put(i.stageId,
              (i.name.takeWhile(_ != '\n').take(70),
               i.taskMetrics.shuffleWriteMetrics.bytesWritten,
               i.taskMetrics.shuffleReadMetrics.totalBytesRead))
            ()
          }
        })

    def shingled(df: DataFrame) = df
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("tk")) - 4),
          g => conv(substring(md5(concat_ws(" ",
            slice(col("tk"), g, lit(5)))), 1, 15), 16, 10)
            .cast("long")).as("shingles"))

    val base = Tables.documents(spark, d).select(col("doc_id"), col("text"))

    // tagged copy j: ids in their own window, tokens suffixed _j so
    // copies share no content (constant dup density across archive
    // scale — the ProfileScale protocol)
    def copyAt(j: Int): DataFrame = base.select(
      (col("doc_id") + lit(j * 10000000L)).as("doc_id"),
      array_join(transform(
        filter(split(trim(col("text")), "\\s+"), t => t =!= ""),
        t => concat(t, lit(s"_$j"))), " ").as("text"))

    // k tagged copies as ONE distributed op (64 unionByName trees plan
    // slowly and defeat the point of a staged build). The base parquet
    // is one input split at these SFs, so repartition FIRST — without
    // it the whole k× shingle+save pipeline runs as one task, and the
    // staged store inherits the single-file layout (a single-threaded
    // archive scan would then corrupt the very curve this measures).
    def copies(k: Int): DataFrame = base
      .crossJoin(spark.range(k).toDF("j"))
      .repartition(64)
      .select((col("doc_id") + col("j") * 10000000L).as("doc_id"),
        array_join(transform(
          filter(split(trim(col("text")), "\\s+"), t => t =!= ""),
          t => concat(t, lit("_"), col("j"))), " ").as("text"))

    def nearmarked(df: DataFrame, off: Long): DataFrame = df.select(
      (col("doc_id") + off).as("doc_id"),
      regexp_replace(col("text"), "^\\S+", "nearmark").as("text"))

    def time(label: String)(mk: => DataFrame): Unit =
      (1 to reps).foreach { rep =>
        shufRead.set(0L); shufWrite.set(0L); stageMeter.clear()
        val s0 = steal(); val t0 = System.nanoTime()
        val n = mk.count()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let straggler task-end events drain
        println(f"$label%-34s rep $rep: $sec%7.2f s  ($n rows, " +
          f"steal ${steal() - s0}, " +
          f"shufW ${shufWrite.get / 1048576.0}%8.1f MB, " +
          f"shufR ${shufRead.get / 1048576.0}%8.1f MB)")
        if (rep == 1) stageMeter.toSeq.sortBy(-_._2._2).take(5).foreach {
          case (id, (nm, w, r)) if w > 0 || r > 0 =>
            println(f"    stage $id%4d shufW ${w / 1048576.0}%8.1f MB " +
              f"shufR ${r / 1048576.0}%8.1f MB  $nm")
          case _ => ()
        }
      }

    // stage a saveSets store once per (dataDir, factor); reuse across
    // runs (the DedupSuite stagedSetsPath convention, local form)
    def stagedArchive(k: Int): String = {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${graft.queries.GateStates.dir}/incscale_arch${k}x_" +
        s"${SetSimJoin.SetsFormatStamp.hashCode.toHexString}_$tag"
      val ok =
        try { SetSimJoin.loadSets(spark, path); true }
        catch { case scala.util.control.NonFatal(_) => false }
      if (!ok) {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(path), true)
        println(s"[staging] building ${k}x archive at $path ...")
        val t0 = System.nanoTime()
        // two hazards make the naive one-plan build run SINGLE-TASK
        // for minutes (observed 808 s at 64x): AQE coalesces the
        // repartition(64) read back to one partition (the ~100 MB
        // text fits one advisory target), and projection collapse
        // re-evaluates the tagged-text transform once PER SHINGLE.
        // Disable coalescing for the build only (probes keep engine
        // defaults) and materialize the text before shingling.
        val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
        val prev = spark.conf.get(coalesceKey, "true")
        spark.conf.set(coalesceKey, "false")
        try {
          val txt = copies(k).localCheckpoint(true)
          // tmp-build + rename (the DedupSuite.stagedSetsPath
          // convention): two JVMs staging the same archive race only
          // across the metadata rename, not the build.
          val tmp = path + "_build_" +
            java.util.UUID.randomUUID().toString.take(8)
          SetSimJoin.saveSets(shingled(txt), "doc_id", "shingles", tmp)
          txt.unpersist()
          if (fs.exists(new org.apache.hadoop.fs.Path(path)) ||
              !fs.rename(new org.apache.hadoop.fs.Path(tmp),
                new org.apache.hadoop.fs.Path(path))) {
            fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
            SetSimJoin.loadSets(spark, path)
          }
        } finally spark.conf.set(coalesceKey, prev)
        println(f"[staging] built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      graft.queries.GateStates.touch(path)
      path
    }

    // ---- BATCH arm: fixed archive, batch grows ------------------------
    val storePath = stagedArchive(1)
    println(s"[batch arm] archive = copy-0 " +
      s"(${SetSimJoin.loadSets(spark, storePath).count()} sets)")
    for (m <- batchMods) {
      val batch = shingled(
        nearmarked(copyAt(0).filter(col("doc_id") % m === 0), 9000000000L))
        .localCheckpoint(true)
      val k = batch.count()
      time(f"inc-jaccard  batch=1/$m%-3d ($k rows)") {
        SetSimJoin.incrementalJaccardPairs(spark, storePath, batch,
          "doc_id", "shingles", threshold = 0.8)
      }
      time(f"inc-contain  batch=1/$m%-3d ($k rows)") {
        SetSimJoin.incrementalContainmentPairs(spark, storePath, batch,
          "doc_id", "shingles", threshold = 0.8)
      }
    }

    // GRAFT_INC_BIGBATCH=<C[,C2,...]>: the r18 large-batch arm
    // (VERDICT r17 #2 / ADVICE r17 medium) — C nearmark clones of
    // EVERY archive doc as one batch, so the audit's candidate set is
    // ~C(C+1)/2 pairs per source: candidate volume grows quadratically
    // in C while the batch grows linearly, the exact high-duplication
    // regime where the r17 unconditional fetch broadcast would have
    // collected pairs × token arrays driver-side (past C≈30 on the
    // sf0.1 store that broadcast exceeds Spark's 8 GB hard limit).
    // Escalation coverage against the measured fetch ladder: a
    // moderate C exceeds the ARRAY ceiling (ids-only broadcast +
    // regroup), a large C exceeds the id ceiling too (Bloom-pruned
    // shuffle). Run on the DEFAULT 8 g driver (GRAFT_XMX=8g): done =
    // completes, wall ∝ candidate volume, exchange candidate-bounded,
    // zero driver blowup.
    sys.env.get("GRAFT_INC_BIGBATCH").foreach { cs =>
      for (c <- cs.split(',').map(_.trim.toInt)) {
        val big = shingled(
          copyAt(0).crossJoin(spark.range(c).toDF("cl"))
            .select((col("doc_id") + lit(9000000000L) +
                col("cl") * 100000000L).as("doc_id"),
              regexp_replace(col("text"), lit("^\\S+"),
                concat(lit("nearmark"), col("cl"))).as("text")))
          .localCheckpoint(true)
        println(s"[bigbatch] batch rows = ${big.count()} (C=$c clones " +
          "of every archive doc)")
        time(f"BIGBATCH inc-jaccard C=$c%d") {
          SetSimJoin.incrementalJaccardPairs(spark, storePath, big,
            "doc_id", "shingles", threshold = 0.8)
        }
        time(f"BIGBATCH inc-contain C=$c%d") {
          SetSimJoin.incrementalContainmentPairs(spark, storePath, big,
            "doc_id", "shingles", threshold = 0.8)
        }
        big.unpersist()
      }
    }

    // GRAFT_INC_EXPLAIN=<factor>: dump the AQE final plan of one
    // inc-jaccard probe at that archive factor and exit (dev drill-down)
    sys.env.get("GRAFT_INC_EXPLAIN").foreach { f =>
      val p = stagedArchive(f.toInt)
      val fb = shingled(
        nearmarked(copyAt(0).filter(col("doc_id") % 10 === 0), 9000000000L))
        .localCheckpoint(true)
      val df = SetSimJoin.incrementalJaccardPairs(spark, p, fb,
        "doc_id", "shingles", threshold = 0.8)
      df.count()
      println(df.queryExecution.executedPlan.toString)
      spark.stop(); sys.exit(0)
    }

    // ---- ARCHIVE arm: fixed batch, archive grows ----------------------
    val fixedBatch = shingled(
      nearmarked(copyAt(0).filter(col("doc_id") % 10 === 0), 9000000000L))
      .localCheckpoint(true)
    println(s"[archive arm] fixed batch = ${fixedBatch.count()} rows")
    for (k <- archFactors) {
      val path = stagedArchive(k)
      time(f"inc-jaccard  archive=${k}x") {
        SetSimJoin.incrementalJaccardPairs(spark, path, fixedBatch,
          "doc_id", "shingles", threshold = 0.8)
      }
      time(f"inc-contain  archive=${k}x") {
        SetSimJoin.incrementalContainmentPairs(spark, path, fixedBatch,
          "doc_id", "shingles", threshold = 0.8)
      }
      if (k == archFactors.max) {
        // the cost incremental exists to avoid: full rebuild over the
        // top-factor union (restricted to batch-touching pairs for a
        // fair output comparison — the rebuild still pays all-pairs
        // work)
        val union = SetSimJoin.loadSets(spark, path)
          .select(col("sid").as("doc_id"), col("stoks").as("shingles"))
          .unionByName(fixedBatch.select(col("doc_id"),
            col("shingles")))
        time(f"REBUILD jaccard archive=${k}x") {
          SetSimJoin.jaccardPairs(union, "doc_id", "shingles",
            threshold = 0.8)
        }
      }
    }
    spark.stop()
  }
}
