package graft.store

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession

/** Shared helpers of the store specs: job counting, foreign manifests,
  * and directory inspection. */
object StoreTestKit {

  /** Runs `body` and returns its result with the call-site name of
    * every job it started (e.g. "parquet at Store.scala:171"). A job of
    * a SQL query, adaptive stages included, is named by its query's
    * call site. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val sites = TrieMap[Long, String]()
    val jobs = ArrayBuffer[(Option[Long], String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites(s.executionId) = s.description
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += ((Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .map(_.toLong),
          e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")))
      }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      TestListenerBus.drain(sc)
      (out, jobs.synchronized(jobs.toList).map { case (exec, stage) =>
        exec.flatMap(sites.get).getOrElse(stage) })
    } finally sc.removeSparkListener(listener)
  }

  /** True for the jobs that write a file-set. */
  def isWrite(job: String): Boolean = job.startsWith("parquet at Store.scala")

  /** True for the id semi-join of an append. */
  def isIdCheck(job: String): Boolean = job.startsWith("count at Store.scala")

  /** Commits the live version again under another format stamp. */
  def stampForeign(spark: SparkSession, path: String, format: String): Unit = {
    val m = Store.manifest(spark, path).get
    Store.commit(spark, path, Some(m), format, m.schemas, m.fileSets, m.values)
  }

  /** Entry names directly under `path`. */
  def entries(path: String): Set[String] =
    Option(new java.io.File(path).list()).map(_.toSet).getOrElse(Set.empty)
      .filterNot(_.endsWith(".crc"))

  /** The names the live manifest accounts for: itself and its file-sets. */
  def live(spark: SparkSession, path: String): Set[String] = {
    val m = Store.manifest(spark, path).get
    m.fileSets.map(_.dir).toSet + f"manifest-${m.version}%020d.json"
  }

  def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString
}
