package graft.store

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One immutable directory of parquet files under a store root: the
  * rows of one table written by one save, append, compaction or
  * removal. `minId`/`maxId` are the id range of its rows when the
  * table has an integral id column and the file-set is not empty.
  */
final case class FileSet(dir: String, table: String, rows: Long,
                         minId: Option[Long], maxId: Option[Long])

/** One committed version of a store. `format` is the store's layout
  * stamp (geometry included); `values` hold store-level scalars such
  * as BM25's `n` and `sum_dl`. File-set dirs are relative to the store
  * root, so a store directory can be moved or renamed whole.
  */
final case class Manifest(version: Long, format: String,
                          schemas: Map[String, StructType],
                          fileSets: Seq[FileSet],
                          values: Map[String, String]) {

  def sets(table: String): Seq[FileSet] = fileSets.filter(_.table == table)

  def rows(table: String): Long = sets(table).map(_.rows).sum

  /** The id range of `table`'s rows, when every non-empty file-set
    * has one; None when the table is empty or a range is unknown. */
  def idRange(table: String): Option[(Long, Long)] = {
    val full = sets(table).filter(_.rows > 0)
    if (full.isEmpty || full.exists(_.minId.isEmpty)) None
    else Some((full.flatMap(_.minId).min, full.flatMap(_.maxId).max))
  }
}

/** Manifest-committed stored tables (the transaction-log commit of
  * Delta Lake, reduced to one writer and no retained versions).
  *
  * A store is a directory holding immutable file-set directories and
  * numbered JSON manifests `manifest-<version>.json`. The newest
  * manifest is the store: it names the format stamp, the schema of
  * each table, the file-sets of each table with their row counts and
  * id ranges, and the store-level values.
  *
  *  - A load reads the newest manifest and hands its schemas and
  *    file-set directories to the parquet reader: no schema inference,
  *    no stamp scan, zero Spark jobs.
  *  - Every mutation writes new file-sets first, then commits by
  *    publishing manifest N+1 (written to a hidden temp file and renamed
  *    into place without overwrite), then sweeps every entry of the
  *    directory the live manifest does not name: older manifests,
  *    superseded file-sets, and the leftovers of interrupted mutations.
  *
  * A crash before the rename leaves manifest N live, so a load reads
  * the old version; a crash after it leaves manifest N+1 live, so a
  * load reads the new version; the next commit sweeps what either
  * left behind. A directory with no manifest is refused by every load.
  * One writer per store is assumed, as it was for the stamped stores.
  */
object Store {

  private val ManifestName = """manifest-(\d{20})\.json""".r
  private def manifestName(version: Long) = f"manifest-$version%020d.json"
  private val mapper = new ObjectMapper()

  /** Mutation steps at which [[injectFault]] can interrupt: after each
    * file-set write, and after the commit but before the sweep. */
  val Written = "written"
  val Committed = "committed"

  /** Test-only fault hook, scoped to the calling thread (and the side
    * threads it starts): called with the step name at every step of
    * every mutation, and may throw to simulate a crash there. */
  private val faultHook = new InheritableThreadLocal[String => Unit]

  private[graft] def withFaultHook[T](hook: String => Unit)(body: => T): T = {
    faultHook.set(hook)
    try body finally faultHook.remove()
  }

  private def injectFault(step: String): Unit =
    Option(faultHook.get).foreach(_(step))

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(new Path(path)))
  }

  // ---- read side --------------------------------------------------

  /** The newest manifest under `path`, or None when the directory is
    * missing or holds none. One directory listing and one small read. */
  def manifest(spark: SparkSession, path: String): Option[Manifest] = {
    val (fs, root) = fsOf(spark, path)
    val versions =
      if (!fs.isDirectory(root)) Nil
      else fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
        case ManifestName(v) => v.toLong
      }
    if (versions.isEmpty) None
    else {
      val in = fs.open(new Path(root, manifestName(versions.max)))
      try Some(parse(mapper.readTree(in).asInstanceOf[ObjectNode]))
      finally in.close()
    }
  }

  /** The live manifest of `path`, refused with `missing` when there is
    * none and with `foreign(stamp)` unless `accepts(stamp)`. No job. */
  def live(spark: SparkSession, path: String, missing: => String)(
      accepts: String => Boolean, foreign: String => String): Manifest = {
    val m = manifest(spark, path).getOrElse(throw new IllegalArgumentException(missing))
    require(accepts(m.format), foreign(m.format))
    m
  }

  /** `table` of a loaded manifest as a lazy frame over its file-sets.
    * The schema comes from the manifest, so building the frame lists
    * the file-set directories and runs no job (the parquet reader
    * lists in parallel, with one job, only past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * file-sets; compaction folds them back to one). */
  def table(spark: SparkSession, path: String, m: Manifest,
            table: String): DataFrame =
    read(spark, path, m.schemas(table), m.sets(table))

  /** The rows of `sets` (committed or not) under `schema`. */
  def read(spark: SparkSession, path: String, schema: StructType,
           sets: Seq[FileSet]): DataFrame =
    if (sets.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(sets.map(s => new Path(path, s.dir).toString): _*)

  // ---- write side -------------------------------------------------

  private[graft] def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** `df` with its row count and, for an integral `idCol`, its id
    * range observed (`Dataset.observe`) by whatever action runs it
    * first; the getter blocks until that action finished. */
  def observeIds(df: DataFrame, idCol: Option[String])
      : (DataFrame, () => (Long, Option[(Long, Long)])) = {
    val ranged = idCol.filter(c => integral(df.schema(c).dataType))
    val obs = Observation()
    val stats = count(lit(1)).as("rows") +: ranged.toSeq.flatMap { c =>
      Seq(min(col(c)).cast("long").as("lo"), max(col(c)).cast("long").as("hi"))
    }
    (df.observe(obs, stats.head, stats.tail: _*), { () =>
      val got = obs.get
      def bound(k: String) = got.get(k).flatMap(Option(_)).map(_.asInstanceOf[Long])
      // no metrics at all: the optimizer proved the frame empty and
      // dropped the observing node with it
      (got.get("rows").fold(0L)(_.asInstanceOf[Long]), bound("lo").zip(bound("hi")))
    })
  }

  /** Writes `df` as a new, uncommitted file-set of `table`. Its row
    * count and, for an integral `idCol`, its id range are observed on
    * the write job itself, so they cost no job. */
  def writeFileSet(path: String, table: String, df: DataFrame,
                   idCol: Option[String]): FileSet = {
    val dir = s"$table-${UUID.randomUUID()}"
    val (observed, stats) = observeIds(df, idCol)
    observed.write.parquet(new Path(path, dir).toString)
    val (rows, range) = stats()
    injectFault(Written)
    FileSet(dir, table, rows, range.map(_._1), range.map(_._2))
  }

  /** `t` with every field, element and value nullable: the stored
    * schema, so an append whose frame happens to be non-null still
    * casts to it. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** `df` with the columns, order and types of a stored schema. */
  def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

  /** When `refuse`, deletes the uncommitted `sets` and refuses with `msg`. */
  private def refuseIf(refuse: Boolean, spark: SparkSession, path: String,
                       sets: Seq[FileSet], msg: => String): Unit =
    if (refuse) {
      val (fs, root) = fsOf(spark, path)
      sets.foreach(s => fs.delete(new Path(root, s.dir), true))
      throw new IllegalArgumentException(msg)
    }

  /** Publishes the next manifest and sweeps the directory.
    *
    * @param base    the manifest the mutation read (None: a fresh save)
    * @param schemas the schema of every table the new version holds
    * @param sets    its complete file-set list
    */
  def commit(spark: SparkSession, path: String, base: Option[Manifest],
             format: String, schemas: Map[String, StructType],
             sets: Seq[FileSet], values: Map[String, String]): Manifest = {
    val m = Manifest(base.map(_.version + 1).getOrElse(1L), format,
      schemas.map { case (t, s) => t -> nullable(s).asInstanceOf[StructType] }, sets, values)
    val (fs, root) = fsOf(spark, path)
    val tmp = new Path(root, s".manifest-${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(mapper.writeValueAsBytes(render(m))) finally out.close()
    val dst = new Path(root, manifestName(m.version))
    try FileContext.getFileContext(root.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dst, Options.Rename.NONE)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        throw new IllegalStateException(s"store at $path: version " +
          s"${m.version} was committed by another writer; nothing of this " +
          "mutation was published", e)
    }
    injectFault(Committed)
    sweep(fs, root, m)
    m
  }

  /** Deletes every entry under `root` the live manifest does not name. */
  private def sweep(fs: FileSystem, root: Path, live: Manifest): Unit = {
    val keep = live.fileSets.map(_.dir).toSet + manifestName(live.version)
    fs.listStatus(root).filterNot(st => keep(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
  }

  // ---- lifecycle shapes shared by the stores ----------------------

  /** Replaces whatever `path` holds with the given tables: one
    * file-set per table, one commit. */
  def save(spark: SparkSession, path: String, format: String,
           tables: Seq[(String, DataFrame, Option[String])],
           values: Map[String, String] = Map.empty): Manifest = {
    val sets = tables.map { case (t, df, id) => writeFileSet(path, t, df, id) }
    commit(spark, path, manifest(spark, path), format,
      tables.map { case (t, df, _) => t -> df.schema }.toMap, sets, values)
  }

  /** The table of the one-row stores (compiled registries). */
  val OneRowTable = "row"

  /** Replaces whatever `path` holds with `df` as the one table
    * `table`, unless `refusal` returns a message for the written
    * file-set: then that file-set is deleted, nothing is committed, and
    * the save refuses with the message. */
  def saveChecked(df: DataFrame, path: String, format: String, table: String)(
      refusal: FileSet => Option[String]): Manifest = {
    val spark = df.sparkSession
    val written = writeFileSet(path, table, df, None)
    val msg = refusal(written)
    refuseIf(msg.isDefined, spark, path, Seq(written), msg.get)
    commit(spark, path, manifest(spark, path), format,
      Map(table -> df.schema), Seq(written), Map.empty)
  }

  /** Replaces whatever `path` holds with the one-row frame `df`,
    * refusing with `refusal` (and committing nothing) unless the write
    * observed exactly one row. */
  def saveOneRow(df: DataFrame, path: String, format: String,
                 refusal: String): Unit =
    saveChecked(df.coalesce(1), path, format, OneRowTable) { written =>
      if (written.rows != 1L) Some(refusal) else None
    }

  /** Appends `df`, cast to the stored schema of `table`, as a new
    * file-set and commits it, refusing with `collision` when its ids
    * collide with the stored ids of `table` ([[requireFresh]]). */
  def append(spark: SparkSession, path: String, m: Manifest, table: String,
             df: DataFrame, idCol: String, collision: String): Manifest = {
    val added = writeFileSet(path, table, conform(df, m.schemas(table)), Some(idCol))
    requireFresh(spark, path, m, table, idCol,
      read(spark, path, m.schemas(table), Seq(added)),
      added.rows, added.minId.zip(added.maxId), Seq(added), collision)
    commit(spark, path, Some(m), m.format, m.schemas, m.fileSets :+ added, m.values)
  }

  /** The first column of `removeIds`, named `idCol`, after checking it
    * against `stored`: refused with `nullIds` when it holds a null and
    * with `unknown(id)` when an id is not stored (a typo'd retraction
    * must fail loudly, not report success). Two small jobs, no write. */
  def removalIds(stored: DataFrame, idCol: String, removeIds: DataFrame,
                 nullIds: String, unknown: Any => String): DataFrame = {
    val ids = removeIds.select(removeIds.columns.head).toDF(idCol)
    require(ids.filter(col(idCol).isNull).limit(1).count() == 0L, nullIds)
    val missing = ids.join(stored.select(idCol), Seq(idCol), "left_anti")
      .limit(1).collect()
    require(missing.isEmpty, unknown(missing.head.get(0)))
    ids
  }

  /** Removes the rows of `table` whose `idCol` is listed in
    * `removeIds` ([[removalIds]] checks the list), committing the kept
    * rows as the table's one file-set; the other tables and the values
    * are untouched. Refuses with `emptied` when no row would be left. */
  def remove(spark: SparkSession, path: String, m: Manifest, table: String,
             idCol: String, removeIds: DataFrame, nullIds: String,
             unknown: Any => String, emptied: String): Manifest = {
    val stored = Store.table(spark, path, m, table)
    val ids = removalIds(stored, idCol, removeIds, nullIds, unknown)
    val left = writeKept(spark, path, table,
      stored.join(ids, Seq(idCol), "left_anti"), idCol, emptied)
    commit(spark, path, Some(m), m.format, m.schemas,
      m.fileSets.filterNot(_.table == table) :+ left, m.values)
  }

  /** Writes `kept`, the rows a removal leaves of `table`, as a new
    * file-set, refusing with `emptied` (and deleting it) when no row is
    * left: an emptied store is a rebuild, not a removal. */
  def writeKept(spark: SparkSession, path: String, table: String,
                kept: DataFrame, idCol: String, emptied: String): FileSet = {
    val left = writeFileSet(path, table, kept, Some(idCol))
    refuseIf(left.rows == 0, spark, path, Seq(left), emptied)
    left
  }

  /** True when `rows` ids with id range `range` cannot collide with the
    * ids `m` stores in `table`: either side is empty, or both ranges
    * are known (integral ids) and do not overlap. Reads the manifest
    * only. */
  def disjointIds(m: Manifest, table: String, rows: Long,
                  range: Option[(Long, Long)]): Boolean =
    rows == 0 || m.rows(table) == 0 ||
      ((range, m.idRange(table)) match {
        case (Some((lo, hi)), Some((smin, smax))) => hi < smin || lo > smax
        case _ => false
      })

  /** Refuses with `collision` when any of `ids` (`rows` rows, id range
    * `range` when known) is already stored in `table`, deleting the
    * uncommitted file-sets `written` first. The semi-join against the
    * stored ids runs only when [[disjointIds]] cannot tell; disjoint
    * integral ranges need no job. */
  def requireFresh(spark: SparkSession, path: String, m: Manifest,
                   table: String, idCol: String, ids: DataFrame, rows: Long,
                   range: Option[(Long, Long)], written: Seq[FileSet],
                   collision: String): Unit = {
    val disjoint = disjointIds(m, table, rows, range)
    refuseIf(!disjoint && ids.select(col(idCol))
        .join(Store.table(spark, path, m, table).select(col(idCol)), Seq(idCol),
          "left_semi")
        .limit(1).count() > 0, spark, path, written, collision)
  }

  /** Rewrites each of `tables` into ~`targetFileBytes` parquet files
    * with a coalesce (no exchange), in one commit; rows, schemas and
    * values are untouched. A table that is already one file-set of at
    * most that many files is left as it is. */
  def compact(spark: SparkSession, path: String, m: Manifest,
              tables: Seq[String], targetFileBytes: Long): Manifest = {
    val (fs, root) = fsOf(spark, path)
    val rewritten = tables.flatMap { t =>
      val files = m.sets(t).flatMap(s => fs.listStatus(new Path(root, s.dir)))
        .filter(_.getPath.getName.endsWith(".parquet"))
      val n = math.max(1L, (files.map(_.getLen).sum + targetFileBytes - 1) /
        targetFileBytes).min(Int.MaxValue.toLong).toInt
      if (m.sets(t).length <= 1 && files.length <= n) None
      else {
        val written = writeFileSet(path, t, table(spark, path, m, t).coalesce(n), None)
        val range = m.idRange(t)
        Some(t -> written.copy(minId = range.map(_._1), maxId = range.map(_._2)))
      }
    }.toMap
    if (rewritten.isEmpty) m
    else commit(spark, path, Some(m), m.format, m.schemas,
      m.fileSets.filterNot(s => rewritten.contains(s.table)) ++ rewritten.values,
      m.values)
  }

  // ---- manifest JSON ------------------------------------------------

  private def render(m: Manifest): ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("version", m.version)
    root.put("format", m.format)
    val tables = root.putObject("tables")
    m.schemas.toSeq.sortBy(_._1).foreach { case (t, schema) =>
      val tn = tables.putObject(t)
      tn.set[ObjectNode]("schema", mapper.readTree(schema.json))
      val arr = tn.putArray("fileSets")
      m.sets(t).foreach { s =>
        val sn = arr.addObject()
        sn.put("dir", s.dir)
        sn.put("rows", s.rows)
        s.minId.foreach(sn.put("minId", _))
        s.maxId.foreach(sn.put("maxId", _))
      }
    }
    val vals = root.putObject("values")
    m.values.toSeq.sorted.foreach { case (k, v) => vals.put(k, v) }
    root
  }

  private def parse(root: ObjectNode): Manifest = {
    val tables = root.get("tables").properties().asScala.toSeq
    val schemas = tables.map { e =>
      e.getKey -> DataType.fromJson(e.getValue.get("schema").toString)
        .asInstanceOf[StructType]
    }.toMap
    val sets = tables.flatMap { e =>
      e.getValue.get("fileSets").elements().asScala.map { s =>
        def opt(k: String) = Option(s.get(k)).map(_.asLong)
        FileSet(s.get("dir").asText, e.getKey, s.get("rows").asLong,
          opt("minId"), opt("maxId"))
      }
    }
    val values = root.get("values").properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    Manifest(root.get("version").asLong, root.get("format").asText, schemas,
      sets, values)
  }
}
