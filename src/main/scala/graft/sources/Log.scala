package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.annotation.tailrec
import scala.collection.mutable
import scala.util.{Success, Try}

import com.fasterxml.jackson.annotation.JsonInclude.Include
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftglue.ColumnGlue.asNullable
import org.apache.spark.sql.types.{DataType, StructType}

/** A committed data file: its table, its path relative to the root, and
  * what a scan needs without touching the filesystem.
  */
final case class AddFile(table: String, path: String, size: Long,
    modificationTime: Long, partitionValues: Map[String, String])

/** A table's files hash-bucketed (and sorted) by `columns` into `count`
  * buckets, the bucket id in each file's name: a scan plans the table
  * clustered by `columns`, so a join on them moves only its other side.
  */
final case class Bucketing(count: Int, columns: Seq[String])

/** A table's schema as a read returns it (data columns, then partition
  * columns), its partition columns, its layout properties and its
  * bucketing.
  */
final case class TableMeta(table: String, schema: String,
    partitionColumns: Seq[String], properties: Map[String, String],
    bucketing: Option[Bucketing] = None)

/** The per-operation record of one commit. */
final case class CommitInfo(operation: String, timestamp: Long,
    readVersion: Long, tables: Seq[String], rows: Long, files: Long,
    bytes: Long, durationMs: Long)

/** One line of a log entry; exactly one field is set. The `commitInfo`
  * line comes last, so an entry without it is still being written.
  */
private final case class Action(add: Option[AddFile] = None,
    remove: Option[String] = None, metaData: Option[TableMeta] = None,
    commitInfo: Option[CommitInfo] = None)

/** A root's state at one log version; version -1 is a root with no log,
  * which holds nothing.
  */
final case class Snapshot(spark: SparkSession, root: String, version: Long,
    files: Seq[AddFile], tables: Map[String, TableMeta],
    log: Seq[(Long, CommitInfo)]) {
  def table(name: String): Table = Table(this, name)
}

/** One table of a [[Snapshot]]: `""` is the root itself, `"cells"` a
  * subdirectory, `"cells/_tombstones"` that table's markers.
  */
final case class Table(snap: Snapshot, name: String) {
  def files: Seq[AddFile] = snap.files.filter(_.table == name)

  /** The table's files and those of the tables nested under it. */
  def tree: Seq[AddFile] = snap.files.filter(f => name.isEmpty ||
    f.table == name || f.table.startsWith(name + "/"))

  def meta: Option[TableMeta] = snap.tables.get(name)
  def exists: Boolean = meta.isDefined
  def prop(key: String): Option[String] = meta.flatMap(_.properties.get(key))
  def sub(child: String): Table = Table(snap, Log.child(name, child))
  def path: String = Log.child(snap.root, name)

  /** The table as a DataFrame over exactly its files: the schema and
    * bucketing come from the log and the partition values from the
    * files' paths, so nothing is listed or inferred.
    */
  def df: DataFrame = {
    val spark = snap.spark
    val m = meta.getOrElse(throw new FileNotFoundException(s"no table at $path"))
    val schema = DataType.fromJson(m.schema).asInstanceOf[StructType]
    if (files.isEmpty) return spark.createDataFrame(java.util.List.of[Row](), schema)
    val fs = Log.fs(spark, snap.root)
    val index = new LogFileIndex(spark, fs.makeQualified(new Path(path)),
      files.map(f => new FileStatus(f.size, false, 1, 32L << 20,
        f.modificationTime, fs.makeQualified(new Path(snap.root, f.path)))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, StructType(schema.filterNot(f =>
        m.partitionColumns.contains(f.name))),
      m.bucketing.map(b => BucketSpec(b.count, b.columns, b.columns)),
      new ParquetFileFormat, Map.empty)(spark))
  }
}

/** A fixed file list from the log, the way Spark's streaming sink serves
  * its metadata log: partitions are parsed from the files' hive paths,
  * and `refresh` has nothing to re-list. Two indexes over the same files
  * are equal (files are immutable), so a cached frame serves any later
  * read of the same snapshot.
  */
private final class LogFileIndex(spark: SparkSession, dir: Path,
    statuses: Seq[FileStatus])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {
  override val rootPaths: Seq[Path] = Seq(dir)
  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.toArray.groupBy(_.getPath.getParent)
  private lazy val spec = inferPartitioning()
  override def partitionSpec(): PartitionSpec = spec
  override def refresh(): Unit = ()
  override def equals(o: Any): Boolean = o match {
    case l: LogFileIndex => l.rootPaths == rootPaths &&
      l.leafFiles.keySet == leafFiles.keySet
    case _ => false
  }
  override def hashCode(): Int = rootPaths.hashCode
}

/** One commit in the making ([[Tables.commit]]): [[put]] stages new files
  * of a table under `_log`, [[remove]] retires files of the snapshot the
  * commit read.
  */
final class Txn private[sources] (val read: Snapshot, op: String) {
  private val fs = Log.fs(read.spark, read.root)
  private val stage = new Path(Log.dir(read.root), s"_stage-${UUID.randomUUID}")
  private val staged = mutable.ArrayBuffer.empty[(Path, AddFile)]
  private val metas = mutable.LinkedHashMap.empty[String, TableMeta]
  private val removed = mutable.LinkedHashMap.empty[String, AddFile]
  private val moved = mutable.ArrayBuffer.empty[Path]
  private val t0 = System.nanoTime()
  private var rows, puts = 0L
  private var cancelled, done = false

  def remove(files: Iterable[AddFile]): Unit =
    files.foreach(f => removed(f.path) = f)

  /** Commit nothing: the operation found it had nothing to do. */
  def cancel(): Unit = cancelled = true

  /** Stage `df` as new files of `t`, hive-partitioned by `partitionBy`
    * and, given a `bucketing`, bucketed by it; `props` update the table's
    * layout properties. Returns the rows written, observed by the write
    * itself (and recorded in the commit's `rows`).
    */
  def put(t: Table, df: DataFrame, partitionBy: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      bucketing: Option[Bucketing] = None): Long = {
    puts += 1
    val out = new Path(stage, puts.toString)
    val obs = Observation()
    val w = df.observe(obs, count(lit(1)).as("n"))
      .write.partitionBy(partitionBy: _*)
    bucketing match {
      case None => w.parquet(out.toString)
      case Some(b) =>
        // a path write cannot bucket: the files go through a transient
        // external catalog table over the stage directory, whose drop
        // leaves them in place
        val name = s"graft_put_${UUID.randomUUID.toString.replace("-", "")}"
        try w.bucketBy(b.count, b.columns.head, b.columns.tail: _*)
          .sortBy(b.columns.head, b.columns.tail: _*)
          .format("parquet").option("path", out.toString).saveAsTable(name)
        finally read.spark.sql(s"DROP TABLE IF EXISTS `$name`")
    }
    val n = obs.get("n").asInstanceOf[Long]
    rows += n
    staged ++= Log.scan(fs, out, t.name)
    metas(t.name) = TableMeta(t.name, asNullable(StructType(df.schema
      .filterNot(f => partitionBy.contains(f.name)) ++
      partitionBy.map(df.schema(_)))).json, partitionBy,
      t.meta.fold(Map.empty[String, String])(_.properties) ++ props, bucketing)
    n
  }

  /** Add the files a writer already wrote in `t`'s directory (a
    * [[Snapshots]] version, read through its own log). A version with no
    * file would commit nothing, so it fails instead.
    */
  private[sources] def adopt(t: Table): Unit = {
    val found = Log.scan(fs, new Path(t.path), t.name)
    require(found.nonEmpty, s"$op: nothing was written to ${t.path}")
    staged ++= found
  }

  /** Publish: move the staged files to their final paths, create
    * `_log/<n>.json` put-if-absent, delete the removed files. Returns the
    * version, or the read version when there is nothing to commit.
    */
  private[sources] def commit(): Long = {
    val adds = staged.map(_._2)
    if (cancelled || (adds.isEmpty && removed.isEmpty &&
        metas.values.forall(m => read.tables.get(m.table).contains(m)))) {
      abort()
      return read.version
    }
    for ((src, a) <- staged; dst = new Path(read.root, a.path)
         if src != fs.makeQualified(dst)) {
      fs.mkdirs(dst.getParent)
      if (!fs.rename(src, dst)) throw new IOException(s"$op: cannot move $src")
      moved += dst
    }
    val info = CommitInfo(op, System.currentTimeMillis(), read.version,
      (metas.keys ++ adds.map(_.table) ++ removed.values.map(_.table))
        .toSeq.distinct, rows, adds.size, adds.map(_.size).sum,
      (System.nanoTime() - t0) / 1000000)
    val body = (metas.values.map(m => Action(metaData = Some(m))) ++
      adds.map(a => Action(add = Some(a))) ++
      removed.keys.map(p => Action(remove = Some(p))) ++
      Seq(Action(commitInfo = Some(info))))
      .map(Log.mapper.writeValueAsString).mkString("", "\n", "\n")
    // a version taken meanwhile is retried at the next one, unless that
    // entry removed a file this commit removes too: then this one loses
    var v = read.version + 1
    while (!Log.put(fs, Log.entry(read.root, v), body)) {
      Log.actions(fs, read.root, v).flatMap(_.remove).find(removed.contains)
        .foreach(p => throw new IOException(s"$op on ${read.root} read " +
          s"version ${read.version}, but version $v already removed $p"))
      v += 1
    }
    done = true
    removed.keys.foreach(p => fs.delete(new Path(read.root, p), false))
    fs.delete(stage, true)
    v
  }

  /** Delete everything this commit wrote, unless it is published. */
  private[sources] def abort(): Unit = if (!done) {
    moved.foreach(fs.delete(_, false))
    fs.delete(stage, true)
  }
}

/** The per-root commit log: `_log/<n>.json`, one JSON action per line,
  * each created put-if-absent (see [[Tables.commit]]).
  */
object Log {
  private[sources] val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setDefaultPropertyInclusion(Include.NON_ABSENT)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private val EntryName = """(\d+)\.json""".r

  private[sources] def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def child(parent: String, name: String): String =
    if (name.isEmpty) parent else if (parent.isEmpty) name else s"$parent/$name"

  private[sources] def dir(root: String): Path = new Path(root, "_log")

  private[sources] def entry(root: String, v: Long): Path =
    new Path(dir(root), s"$v.json")

  /** Create `path` holding `body` unless it exists, so that no reader
    * ever sees it part-written: on a local filesystem the body goes to a
    * hidden sibling first, which is hard-linked into place (a link, unlike
    * a rename, fails when the name is taken); elsewhere `create` without
    * overwrite is the filesystem's own exclusive create, and a reader
    * waits for the entry's closing `commitInfo` line ([[actions]]).
    */
  private[sources] def put(fs: FileSystem, path: Path, body: String): Boolean =
    if (fs.getScheme == "file") {
      val dst = Paths.get(fs.makeQualified(path).toUri)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}")
      Files.createDirectories(dst.getParent)
      Files.write(tmp, body.getBytes("UTF-8"))
      try { Files.createLink(dst, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally Files.delete(tmp)
    } else try {
      val out = fs.create(path, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: FileAlreadyExistsException => false }

  /** Entry `v`'s actions. An entry that lacks its closing `commitInfo` is
    * still being written: it is re-read for up to two seconds, then
    * fails loudly rather than read as empty or short.
    */
  @tailrec private[sources] def actions(fs: FileSystem, root: String,
      v: Long, retries: Int = 100): Seq[Action] = {
    val in = fs.open(entry(root, v))
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    Try(text.linesIterator.filter(_.nonEmpty)
      .map(mapper.readValue(_, classOf[Action])).toSeq)
      .filter(_.lastOption.exists(_.commitInfo.isDefined)) match {
      case Success(acts) => acts
      case _ if retries == 0 =>
        throw new IOException(s"log entry ${entry(root, v)} is unfinished")
      case _ => Thread.sleep(20); actions(fs, root, v, retries - 1)
    }
  }

  /** The last snapshot resolved per root, with the status of its newest
    * entry: a later read replays only the entries past it. A root that
    * was deleted and rewritten no longer shows that entry as it was, and
    * is replayed from version 0.
    */
  private val resolved = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Snapshot, FileStatus)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Snapshot, FileStatus)]) = size > 256
    })

  /** The latest snapshot of `root`: the replay of every entry. */
  private[sources] def snapshot(spark: SparkSession, root: String): Snapshot = {
    val f = fs(spark, root)
    val entries = try f.listStatus(dir(root)).toSeq.flatMap(st =>
      st.getPath.getName match {
        case EntryName(n) => Some(n.toLong -> st)
        case _ => None
      }).toMap
    catch { case _: FileNotFoundException => Map.empty[Long, FileStatus] }
    if (entries.isEmpty) return Snapshot(spark, root, -1, Nil, Map.empty, Nil)
    val latest = entries.keys.max
    val key = f.makeQualified(new Path(root)).toString
    val base = Option(resolved.get(key)).collect { case (s, st) if entries
      .get(s.version).exists(e => e.getLen == st.getLen &&
        e.getModificationTime == st.getModificationTime) => s }
    val files = mutable.LinkedHashMap.empty[String, AddFile]
    val tables = mutable.LinkedHashMap.empty[String, TableMeta]
    val log = mutable.ArrayBuffer.empty[(Long, CommitInfo)]
    base.foreach { s =>
      files ++= s.files.map(x => x.path -> x)
      tables ++= s.tables
      log ++= s.log
    }
    for (v <- base.fold(0L)(_.version + 1) to latest; a <- actions(f, root, v)) {
      a.add.foreach(x => files(x.path) = x)
      a.remove.foreach(files.remove)
      a.metaData.foreach(m => tables(m.table) = m)
      a.commitInfo.foreach(i => log += v -> i)
    }
    val snap = Snapshot(spark, root, latest, files.values.toSeq,
      tables.toMap, log.toSeq)
    resolved.put(key, snap -> entries(latest))
    snap
  }

  /** The data files under `dir` as adds of `table` (with their current
    * paths), skipping hidden `_`/`.` names at any depth: logs, nested
    * tables' markers, checksums, success flags.
    */
  private[sources] def scan(fs: FileSystem, dir: Path,
      table: String): Seq[(Path, AddFile)] = {
    val base = fs.makeQualified(dir).toUri.getPath.stripSuffix("/") + "/"
    val it = fs.listFiles(dir, true)
    val out = mutable.ArrayBuffer.empty[(Path, AddFile)]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(base)
      val segs = rel.split('/').toSeq
      if (!segs.exists(s => s.startsWith("_") || s.startsWith(".")))
        out += st.getPath -> AddFile(table, child(table, rel), st.getLen,
          st.getModificationTime, segs.init.filter(_.contains('=')).map { s =>
            val i = s.indexOf('=')
            unescapePathName(s.take(i)) -> unescapePathName(s.drop(i + 1))
          }.toMap)
    }
    out.toSeq
  }

  /** Run `body` as one commit on `snap`; what it staged is deleted if it
    * throws.
    */
  private[sources] def commit(snap: Snapshot, op: String)(
      body: Txn => Unit): Long = {
    val tx = new Txn(snap, op)
    try { body(tx); tx.commit() }
    catch { case e: Throwable => tx.abort(); throw e }
  }
}
