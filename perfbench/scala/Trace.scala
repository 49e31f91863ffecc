package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer. `build` runs until the call returned its
  * DataFrame (or, for a store operation, until it returned at all);
  * `exec` is the consuming action or write after it. Times in ms are
  * wall-clock, for matching against listener job times; durations are
  * from the monotonic clock. */
final case class Span(name: String, startMs: Long, endMs: Long,
                      buildNs: Long, wallNs: Long)

/** A timed window of spans (one pass, interaction or batch). */
final case class Pass(startMs: Long, endMs: Long)

/** Wall seconds of a piece of work, and the CPU seconds the JVM spent
  * over it. CPU seconds leave out time the host gave to other tenants,
  * which wall seconds include. */
final case class Timing(wallS: Double, cpuS: Double)

object Timing {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The JIT compiler threads' /proc task entries. Their number is fixed
    * (run.py turns off dynamic compiler threads), so none ends unseen. */
  private val jitTasks: Seq[Path] = {
    val dir = Paths.get("/proc/self/task")
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(t => Try(new String(Files.readAllBytes(
        t.resolve("comm")))).getOrElse("").contains("CompilerThre")).toList
      finally s.close()
    }
  }

  private def jitNs(): Long = jitTasks.map(t => Try(new String(Files.readAllBytes(
    t.resolve("schedstat"))).trim.split(" ")(0).toLong).getOrElse(0L)).sum

  /** CPU of the whole process, threads that have ended included (Spark's
    * pools and the pools graft's operators start and stop within a call),
    * GC threads included, JIT compiler threads left out: what they compile
    * when depends on timing, not on the program's work. */
  def cpuNs(): Long = os.getProcessCpuTime - jitNs()

  def of(body: => Unit): Timing = {
    val t0 = System.nanoTime()
    val c0 = cpuNs()
    body
    // the two counters are read one after the other, so a span with next
    // to no work can read a few microseconds below zero
    Timing((System.nanoTime() - t0) / 1e9, math.max(0L, cpuNs() - c0) / 1e9)
  }
}

/** Per-job counters collected from the listener bus. */
final class JobStat(val id: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var outFiles = 0L
}

/** The benchmark's own listener: jobs with their time windows, and the
  * shuffle, spill and output bytes of their tasks. Jobs are attributed
  * to spans by time window, not job group, because the client is one
  * thread and side-thread jobs carry no group. */
final class JobLedger extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobStat]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobStat(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId); js <- jobs.get(j) if m != null) {
      js.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      js.spillBytes += m.diskBytesSpilled
      val w = m.outputMetrics.bytesWritten
      js.outBytes += w
      if (w > 0) js.outFiles += 1
    }
  }

  def snapshot(): Seq[JobStat] = synchronized { jobs.values.toList }
}

/** Records spans and passes for one run. Span timing always runs (it is
  * two clock reads); the listener is attached only in traced runs. */
final class Recorder(sc: SparkContext, traced: Boolean) {
  val spans = ArrayBuffer[Span]()
  val passes = ArrayBuffer[Pass]()
  private val ledger = if (traced) Some(new JobLedger) else None
  ledger.foreach(sc.addSparkListener)
  /** Spark storage memory: capacity, and the most in use after any call. */
  val storageCapacity: Long = sc.getExecutorMemoryStatus.values.map(_._1).sum
  var storagePeak = 0L

  /** One call: `build` returns the layer's result, `exec` consumes it. */
  def call[T](name: String)(build: => T)(exec: T => Unit): T = {
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val v = build
    val t1 = System.nanoTime()
    exec(v)
    val t2 = System.nanoTime()
    spans += Span(name, m0, System.currentTimeMillis(), t1 - t0, t2 - t0)
    storagePeak = math.max(storagePeak,
      storageCapacity - sc.getExecutorMemoryStatus.values.map(_._2).sum)
    Main.log(f"span $name%-28s build ${(t1 - t0) / 1e9}%.3f s  wall ${(t2 - t0) / 1e9}%.3f s")
    v
  }

  /** A store operation with no DataFrame result: all of it is `build`. */
  def op(name: String)(body: => Unit): Unit = call(name)(body)(_ => ())

  /** Collects garbage and gives Spark's cleaner time to drop what the
    * collection released, so the next timed piece of work starts from a
    * like heap and does not pay for the work before it. Untimed. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
  }

  /** Times one pass. */
  def pass(body: => Unit): Timing = {
    val m0 = System.currentTimeMillis()
    val t = Timing.of(body)
    passes += Pass(m0, System.currentTimeMillis())
    t
  }

  /** Per-span metrics plus the trace-completeness count. Empty when the
    * run is untraced. */
  def report(spanNames: Seq[String]): Option[Report] = ledger.map { l =>
    org.apache.spark.PerfbenchBus.drain(sc)
    val jobs = l.snapshot()
    val inPass = jobs.filter(j => passes.exists(p => j.startMs >= p.startMs && j.startMs <= p.endMs))
    // a job belongs to the latest span that started at or before it and
    // had not ended before it
    def owner(j: JobStat): Option[Span] =
      spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(_.startMs).lastOption
    val owned = inPass.flatMap(j => owner(j).map(_ -> j))
    val bySpan = owned.groupBy(_._1).map { case (s, js) => s -> js.map(_._2) }
    val metrics = mutable.LinkedHashMap[String, Double]()
    spanNames.foreach { n =>
      val calls = spans.filter(_.name == n).toSeq
      val k = math.max(calls.length, 1).toDouble
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val js = calls.map(s => bySpan.getOrElse(s, Nil))
      metrics(s"$n.wall_s") = med(calls.map(_.wallNs / 1e9))
      metrics(s"$n.build_s") = med(calls.map(_.buildNs / 1e9))
      metrics(s"$n.jobs") = js.map(_.length).sum / k
      metrics(s"$n.shuffle_mb") = js.flatten.map(_.shuffleBytes).sum / 1e6 / k
      metrics(s"$n.spill_mb") = js.flatten.map(_.spillBytes).sum / 1e6 / k
      metrics(s"$n.driver_s") = med(calls.zip(js).map { case (s, sj) =>
        val busy = unionMs(sj.map(j => (math.max(j.startMs, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
        math.max(0.0, s.wallNs / 1e9 - busy / 1e3)
      })
    }
    Report(metrics.toMap, passJobs = inPass.length, attributedJobs = owned.length,
      filesWritten = owned.map(_._2.outFiles).sum,
      bytesWritten = owned.map(_._2.outBytes).sum)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

final case class Report(metrics: Map[String, Double], passJobs: Int,
                        attributedJobs: Int, filesWritten: Long,
                        bytesWritten: Long)

/** JVM-level counters over the timed window: GC time, and the live heap
  * at its end. */
final class HeapWatch {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val gc0 = gcs.map(_.getCollectionTime).sum

  /** Returns (GC seconds in the window, old-generation MB after a full
    * collection forced now, while the caller still holds its state). */
  def close(): (Double, Double) = {
    val gcS = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
        .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed)).sum
    }
    // each collection lets Spark's cleaner drop the blocks and broadcasts
    // it found unreferenced, which a later one frees: the old generation
    // read 118, 117 and then 89 MB over three collections half a second
    // apart. Collect at least three times, then until it stops shrinking.
    var live = collect()
    var prev = Long.MaxValue
    var rounds = 1
    while ((rounds < 3 || live < prev - prev / 200) && rounds < 8) {
      Thread.sleep(500)
      prev = live
      live = collect()
      rounds += 1
    }
    (gcS, live / 1e6)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank) and its value, for the run metadata; none below eleven samples. */
  def tail(op: String, xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    val n = s.length
    Map("op" -> op, "samples" -> n, "max_ms" -> s.lastOption.getOrElse(0.0)) ++
      (if (n <= 10) Map.empty
       else Map("percentile" -> 100.0 * (n - 10) / n, "value_ms" -> s(n - 11)))
  }
}
