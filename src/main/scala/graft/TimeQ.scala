package graft

/** Ad-hoc query timer: `runMain graft.TimeQ <sfDir> [namePattern] [reps]`.
  * Runs each matching SparkEntry query `reps` times in one warm JVM and
  * prints per-iteration wall seconds — the controlled loop for A/B'ing
  * operator rewrites without Bench's full suite.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pattern = if (args.length > 1) args(1) else ""
    val reps = if (args.length > 2) args(2).toInt else 1
    val builder = GraftSession.local(GraftSession.cpus(default = 32))
    // SPARK_GRAFT_CONF="k=v;k2=v2" — extra session confs for config
    // sweeps (e.g. AQE coalescing dials, or
    // spark.sql.shuffle.partitions=N to decouple shuffle partitioning
    // from the thread count) without recompiling
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val i = kv.indexOf('=')
        builder.config(kv.take(i), kv.drop(i + 1))
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.contains(pattern))
      .foreach { case (name, fn) =>
        (1 to reps).foreach { i =>
          val t0 = System.nanoTime()
          try BenchAction.consumeAll(fn(spark, sfDir))
          catch { case e: Throwable => println(s"$name ERROR ${e.getMessage.take(80)}") }
          println(f"$name%-28s it$i ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        }
      }
    spark.stop()
  }
}
