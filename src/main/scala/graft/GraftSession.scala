package graft
import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured (README *Determinism
  * rules*). Every entry point and the test session build from here, so a
  * session rule changes in one line instead of drifting across copies.
  */
object GraftSession {

  /** Worker threads from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A local session builder with `cpus` worker threads and as many
    * shuffle partitions (plans must not depend on a Spark default),
    * UTC session time, non-ANSI casts (null on unparseable input,
    * matching the reference's errors='coerce', SURVEY.md §7.4), AQE on,
    * TIMESTAMP(NANOS) parquet read as long (normalized to micros in
    * [[Tables.events]]) and no UI. Callers add their own app name and
    * extra confs, then `getOrCreate()` and set their log level.
    */
  def local(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
