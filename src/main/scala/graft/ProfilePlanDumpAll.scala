package graft

/** Dump the formatted physical plan of every bench headline (or the
  * names given as trailing args) to `<outDir>/<name>_<suffix>.txt` in
  * ONE JVM — the before/after plan-artifact capture for optimization
  * rounds: `runMain graft.ProfilePlanDumpAll <sfDir> <outDir> <suffix>
  * [name ...]`. Dev-only instrument; pass one name to eyeball a single
  * query's plan, or none for the whole 32-headline sweep in one session.
  */
object ProfilePlanDumpAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.headlines.map(_.name)
    val spark =
      GraftSession.local(GraftSession.cpus(default = 32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val out = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(out, plan.getBytes("UTF-8"))
        println(s"[plan-dump] wrote $out")
      } catch { case e: Throwable =>
        println(s"[plan-dump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
