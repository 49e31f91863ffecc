package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload hands back to [[Main]]. */
final class Outcome {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Wall-clock counterparts of the CPU-based end-to-end metrics. */
  val wall = mutable.LinkedHashMap[String, Double]()
  val meta = mutable.LinkedHashMap[String, Any]()
  val checks = ArrayBuffer[(String, Boolean, String)]()
  /** Operations the timed window attempted, and those that threw. */
  var opsAttempted = 0L
  var opsFailed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** Runs one timed operation, counting it; a throw counts as failed. */
  def attempt(body: => Unit): Boolean = {
    opsAttempted += 1
    try { body; true } catch {
      case e: Exception =>
        opsFailed += 1
        System.err.println(s"[perfbench] operation failed: $e")
        false
    }
  }
}

/** One workload: seeded set-up, a warm-up, a timed closed loop, checks. */
trait Workload {
  /** Every span name this workload records, in pipeline order. */
  def spanNames: Seq[String]
  /** Generates the inputs under `dir` from `seed`. Called several times
    * for the set-up median; the last call's inputs are the ones the run
    * uses. Returns the generated input files. */
  def generate(dir: Path, seed: Long): Seq[Path]
  /** Stages stored state from the generated inputs (once). */
  def stage(): Unit
  /** Untimed passes so JIT and lazy set-up are done before timing. */
  def warmup(rec: Recorder): Unit
  /** The timed closed loop, until `deadlineNs`. */
  def timed(rec: Recorder, out: Outcome, deadlineNs: Long): Unit
  /** Output checks and end-to-end metrics, after the window closes but
    * while the loop's state is still held. */
  def finish(out: Outcome, traced: Boolean): Unit
}

object Main {
  /** Input generation runs this many times; set-up counts the median. */
  val GenerateRounds = 3
  private val started = System.nanoTime()

  /** Progress line on stderr, with seconds since the JVM's main began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f] $msg")

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work)

    var spark: SparkSession = null
    val sessionT = Timing.of { spark = session(work) }
    log("session started")
    val w: Workload = workload match {
      case "ev_dashboard" => new EvDashboard(spark, opts.getOrElse("scale", "1").toDouble)
      case "incremental_refresh" => new IncrementalRefresh(spark)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new Outcome
    var inputs: Seq[Path] = Nil
    val genT = (0 until GenerateRounds).map { k =>
      Timing.of { inputs = w.generate(work.resolve(s"inputs$k"), seed) }
    }
    val stageT = Timing.of(w.stage())
    log("inputs generated and stores staged")
    val warmT = Timing.of(w.warmup(new Recorder(spark.sparkContext, traced = false)))
    log("warm-up done; timed window starts")
    val parts = Seq("session" -> sessionT, "generate_median" -> Timing(
      Stats.median(genT.map(_.wallS)), Stats.median(genT.map(_.cpuS))),
      "stage" -> stageT, "warmup" -> warmT)
    out.e2e("setup_s") = parts.map(_._2.cpuS).sum
    out.wall("setup_s") = parts.map(_._2.wallS).sum
    out.meta("setup_parts") = parts.map { case (n, t) => n -> Map("wall_s" -> t.wallS,
      "cpu_s" -> t.cpuS) }.toMap

    val rec = new Recorder(spark.sparkContext, traced)
    val heap = new HeapWatch
    val start = System.nanoTime()
    w.timed(rec, out, start + (seconds * 1e9).toLong)
    out.meta("window_s") = (System.nanoTime() - start) / 1e9
    log("timed window done")
    val (gcS, liveMb) = heap.close()
    out.e2e("heap_live_mb") = liveMb
    out.layer("spark.gc_s") = gcS
    out.meta("storage_mb") = Map("capacity" -> rec.storageCapacity / 1e6,
      "peak_used" -> rec.storagePeak / 1e6)
    rec.report(w.spanNames).foreach { r =>
      out.layer ++= r.metrics
      out.layer("operators.store.files_written") = r.filesWritten.toDouble
      out.layer("operators.store.bytes_written_mb") = r.bytesWritten / 1e6
      out.meta("trace_jobs") = Map("pass_jobs" -> r.passJobs, "attributed_jobs" -> r.attributedJobs)
      out.check("trace_complete", r.passJobs == r.attributedJobs,
        s"${r.passJobs - r.attributedJobs} of ${r.passJobs} jobs in passes fell outside every span")
    }
    w.finish(out, traced)
    log("checks done")
    val inputDir = work.resolve(s"inputs${GenerateRounds - 1}")
    out.meta("inputs") = inputs.map(p => Map("file" -> inputDir.relativize(p).toString,
      "bytes" -> Files.size(p), "sha256" -> sha256(p)))
    Files.write(work.resolve("result.json"), Json.render(Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "e2e" -> out.e2e, "layer" -> out.layer, "wall" -> out.wall, "meta" -> out.meta,
      "ops_attempted" -> out.opsAttempted, "ops_failed" -> out.opsFailed,
      "checks" -> out.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    )).getBytes("UTF-8"))
    spark.stop()
  }

  def sha256(p: Path): String = sha256(Files.readAllBytes(p))

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Bytes under a directory, as stored on disk. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Minimal JSON rendering for the result file. */
object Json {
  /** A result cell as a JSON-friendly value. */
  def cell(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.doubleValue
    case t: java.sql.Timestamp => t.toString
    case t: java.sql.Date => t.toString
    case other => other
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case (a, b) => render(Seq(a, b))
    case o => render(o.toString)
  }
}
