package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, PlanExpression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** One data file of a snapshot: its partition key (the directory value,
  * e.g. "3" for `bucket=3/`; "" in an unpartitioned table), its path
  * relative to the table root, and the length and modification time the
  * scan needs. */
final case class StoreFile(partition: String, path: String, size: Long, mtime: Long)

/** One committed version of a parquet table. `schema` is the data columns
  * followed by the partition column, if the table has one; `codebook` is
  * the IVF codebook the files were assigned against (None elsewhere);
  * `batchId` is the last streaming micro-batch the table absorbed. */
final case class StoreSnapshot(version: Long, partitionColumn: Option[String], schema: StructType,
    files: Seq[StoreFile], codebook: Option[Array[Array[Float]]], batchId: Option[Long])

/** Manifest-addressed parquet tables: the one commit and read path of
  * every table graft rewrites or appends to — the LSH-bucket store
  * (VectorStoreSink), IVF generations (IvfIndex, VectorStoreMaintenance),
  * copy-on-write rewrites (Mutations), compactions (CompactionPlanner)
  * and streamed appends (StreamingCompaction).
  *
  * Layout. Data files live where a Spark write puts them: at the table
  * root, or under `<col>=<key>/` in a partitioned table. Next to them,
  * `_manifest/v<n>.json` is version n of the table. A manifest holds
  *  - `version`: n;
  *  - `partition_column` (absent when unpartitioned) and `schema` (Spark
  *    JSON of the data columns followed by the partition column), so no
  *    read infers a schema;
  *  - `files`: per data file its partition key, relative path, size and
  *    modification time, so no read lists a directory;
  *  - `codebook` (IVF only): the centroids the files were assigned
  *    against, inline, so a generation and its codebook appear together;
  *  - `batch_id` (streamed tables): the last committed micro-batch, so a
  *    replayed batch commits once.
  *
  * Commit rule. A write stages its rows under `_staging/<uuid>` with an
  * ordinary parquet write (partitioned like the table), renames each file
  * into the table root or its partition directory, and only then
  * commits: the manifest is written to a temporary file and renamed onto
  * `_manifest/v<base+1>.json`. The rename is exclusive (a JVM-wide lock
  * around an existence check, and on HDFS the rename itself refuses an
  * existing target), so of two writers that started from the same
  * version one commits and the other fails with a
  * ConcurrentModificationException and aborts. A write that dies before
  * its commit leaves files no manifest names; readers never see them.
  *
  * Retention rule. Committing v<n+1> on base v<n> deletes, of the files
  * the table held before the write began, every one that neither v<n>
  * nor v<n+1> names: files superseded at v<n> (so a file is removed only
  * at the commit after the one that superseded it, and a reader that
  * resolved the previous snapshot can finish), files of writes that never
  * committed, leftover staging directories, and manifests older than
  * v<n>. Files that land after the write began belong to a concurrent
  * writer, which must fail its own commit, and are left to the next one.
  * A plain parquet directory becomes a table through [[adopt]], whose v1
  * names the directory's files, so they get the same grace. So a listing of the directory is not the table: read it through
  * [[read]] (`graft.Tables.parquet` does), never a raw
  * `spark.read.parquet`.
  *
  * Reads. [[snapshot]] resolves the newest manifest on the driver (one
  * listing of `_manifest/` and one small file read); [[read]] scans
  * exactly its files through a [[FileIndex]] wrapped in a
  * HadoopFsRelation, so the scan lists nothing, infers nothing, and
  * prunes partitions from static filters in `listFiles` and from dynamic
  * partition-pruning filters over the partition values it reports. Its
  * schema is what `spark.read.parquet` of the same files resolves to.
  */
object StoreManifest {

  private[graft] val ManifestDir = "_manifest"
  private val StagingDir = "_staging"
  private val VersionFile = "^v(\\d+)\\.json$".r
  /** Guards the exists-then-rename of a commit against writers in this JVM. */
  private val CommitLock = new Object

  private def fsOf(s: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def versions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap(st =>
      VersionFile.findFirstMatchIn(st.getPath.getName).map(_.group(1).toLong))
  }

  /** The newest committed snapshot of the table at `root`, if any. */
  def latest(s: SparkSession, root: String): Option[StoreSnapshot] = {
    val (fs, p) = fsOf(s, root)
    versions(fs, p).maxOption match {
      case None => None
      case Some(v) =>
        try {
          val in = fs.open(new Path(p, s"$ManifestDir/v$v.json"))
          try Some(fromJson(new String(in.readAllBytes(), UTF_8))) finally in.close()
        } catch {
          // two newer commits retired v since the listing
          case _: java.io.FileNotFoundException => latest(s, root)
        }
    }
  }

  /** Commits the plain, unpartitioned parquet directory at `root` as
    * version 1 of a table: its data files, under the schema Spark's read
    * of them resolves to. A table's first rewrite starts here, so its
    * files land only once the directory's own files are committed. */
  def adopt(s: SparkSession, root: String): StoreSnapshot = {
    val (fs, p) = fsOf(s, root)
    val (files, _) = onDisk(fs, p)
    require(files.forall(_.getPath.getParent == p), s"$root: a partitioned directory cannot be adopted")
    val snap = StoreSnapshot(1L, None, graft.Tables.parquet(s, root).schema,
      files.map(st => StoreFile("", st.getPath.getName, st.getLen, st.getModificationTime)), None, None)
    commit(fs, p, snap)
    snap
  }

  def snapshot(s: SparkSession, root: String): StoreSnapshot =
    latest(s, root).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $root"))

  /** The rows of `snap`: a scan of exactly the files it names. */
  def read(s: SparkSession, root: String, snap: StoreSnapshot): DataFrame = {
    val (_, p) = fsOf(s, root)
    val index = new SnapshotFileIndex(p, snap)
    s.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, index.dataSchema,
      None, new ParquetFileFormat, Map.empty)(s))
  }

  def read(s: SparkSession, root: String): DataFrame = read(s, root, snapshot(s, root))

  /** Writes `data` (partitioned by `partitionColumn`, if given) as new
    * files of the table and commits version `base + 1`: the files of
    * `base` that `keep` accepts, plus the new files. `codebook` and
    * `batchId` default to the base's. Returns the committed snapshot;
    * throws a ConcurrentModificationException, having removed its own
    * files, when another writer committed `base + 1` first. */
  def write(s: SparkSession, root: String, data: DataFrame, partitionColumn: Option[String],
      base: Option[StoreSnapshot], keep: StoreFile => Boolean,
      codebook: Option[Array[Array[Float]]] = None,
      batchId: Option[Long] = None): StoreSnapshot = {
    val (fs, p) = fsOf(s, root)
    val (before, leftovers) = onDisk(fs, p)
    val kept = base.toSeq.flatMap(_.files.filter(keep))
    val schema = StructType(data.schema.filterNot(f => partitionColumn.contains(f.name)) ++
      partitionColumn.map(data.schema(_)))
    base.filter(_ => kept.nonEmpty).foreach { b =>
      require(b.schema.catalogString == schema.catalogString,
        s"$root: rows of ${schema.catalogString} cannot join a table of ${b.schema.catalogString}")
    }
    val landed = land(fs, p, data, partitionColumn)
    val snap = StoreSnapshot(base.fold(1L)(_.version + 1), partitionColumn, schema,
      kept ++ landed, codebook.orElse(base.flatMap(_.codebook)),
      batchId.orElse(base.flatMap(_.batchId)))
    try commit(fs, p, snap)
    catch { case e: java.util.ConcurrentModificationException =>
      landed.foreach(f => fs.delete(new Path(p, f.path), false))
      throw e
    }
    // retention: see the object doc
    val live = (base.toSeq.flatMap(_.files) ++ snap.files).map(f => new Path(p, f.path).toString).toSet
    (before ++ leftovers).filterNot(st => live(st.getPath.toString)).foreach(st => fs.delete(st.getPath, true))
    versions(fs, p).filter(_ < snap.version - 1)
      .foreach(v => fs.delete(new Path(p, s"$ManifestDir/v$v.json"), false))
    snap
  }

  /** What retention may remove, listed when a write begins: the table's
    * data files (at its root and in its partition directories), and the
    * leftovers of writes that never committed (staging directories and
    * manifest temp files). */
  private def onDisk(fs: FileSystem, root: Path): (Seq[FileStatus], Seq[FileStatus]) = {
    val entries = if (fs.exists(root)) fs.listStatus(root).toSeq else Nil
    def children(st: FileStatus) = fs.listStatus(st.getPath).toSeq
    val data = entries.flatMap(st =>
      if (st.isDirectory && st.getPath.getName.contains("=")) children(st).filter(isDataFile)
      else Seq(st).filter(isDataFile))
    val leftovers = entries.flatMap(st => st.getPath.getName match {
      case StagingDir => children(st)
      case ManifestDir => children(st).filter(_.getPath.getName.startsWith(".tmp-"))
      case _ => Nil
    })
    (data, leftovers)
  }

  private def isDataFile(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Stage `data` with a parquet write, then move each file into the
    * table root or its own partition directory. */
  private def land(fs: FileSystem, root: Path, data: DataFrame,
      partitionColumn: Option[String]): Seq[StoreFile] = {
    val stage = new Path(root, s"$StagingDir/${UUID.randomUUID}")
    partitionColumn.fold(data.write)(data.write.partitionBy(_)).parquet(stage.toString)
    def moveAll(from: Path, dir: String, key: String): Seq[StoreFile] =
      fs.listStatus(from).toSeq.filter(isDataFile).map { st =>
        val rel = dir + st.getPath.getName
        val dst = new Path(root, rel)
        if (!fs.rename(st.getPath, dst)) throw new java.io.IOException(s"could not move ${st.getPath} to $dst")
        StoreFile(key, rel, st.getLen, st.getModificationTime)
      }
    val files = partitionColumn.fold(moveAll(stage, "", "")) { c =>
      fs.listStatus(stage).toSeq.filter(_.getPath.getName.startsWith(s"$c=")).flatMap { dir =>
        val name = dir.getPath.getName
        fs.mkdirs(new Path(root, name))
        moveAll(dir.getPath, s"$name/", name.stripPrefix(s"$c="))
      }
    }
    fs.delete(stage, true)
    files
  }

  private def commit(fs: FileSystem, root: Path, snap: StoreSnapshot): Unit = {
    val dir = new Path(root, ManifestDir)
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID}.json")
    val out = fs.create(tmp, false)
    try out.write(toJson(snap).getBytes(UTF_8)) finally out.close()
    val dst = new Path(dir, s"v${snap.version}.json")
    val won = CommitLock.synchronized(!fs.exists(dst) && fs.rename(tmp, dst))
    if (!won) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"$root: version ${snap.version} was committed by another writer")
    }
  }

  private[sources] def toJson(m: StoreSnapshot): String = compact(render(
    ("version" -> m.version) ~
    ("partition_column" -> m.partitionColumn) ~
    ("schema" -> parse(m.schema.json)) ~
    ("files" -> m.files.map(f =>
      ("partition" -> f.partition) ~ ("path" -> f.path) ~ ("size" -> f.size) ~ ("mtime" -> f.mtime))) ~
    ("codebook" -> m.codebook.map(_.toSeq.map(_.toSeq.map(_.toDouble)))) ~
    ("batch_id" -> m.batchId)))

  private[sources] def fromJson(text: String): StoreSnapshot = {
    val j = parse(text)
    def long(v: JValue): Long = v match { case JInt(x) => x.toLong; case other => sys.error(s"bad manifest field $other") }
    def str(v: JValue): String = v match { case JString(x) => x; case other => sys.error(s"bad manifest field $other") }
    def float(v: JValue): Float = v match {
      case JDouble(x) => x.toFloat; case JInt(x) => x.toFloat; case other => sys.error(s"bad manifest field $other")
    }
    StoreSnapshot(
      long(j \ "version"), (j \ "partition_column").toOption.map(str),
      DataType.fromJson(compact(render(j \ "schema"))).asInstanceOf[StructType],
      (j \ "files").children.map(f =>
        StoreFile(str(f \ "partition"), str(f \ "path"), long(f \ "size"), long(f \ "mtime"))),
      (j \ "codebook").toOption.map(_.children.map(_.children.map(float).toArray).toArray),
      (j \ "batch_id").toOption.map(long))
  }

  /** The snapshot's files as a Spark file index: the partition values come
    * from the manifest keys, so listing and pruning touch no file system. */
  private final class SnapshotFileIndex(root: Path, snap: StoreSnapshot) extends FileIndex {
    private val schema = Shim.asNullable(snap.schema)
    override val partitionSchema: StructType =
      StructType(schema.filter(f => snap.partitionColumn.contains(f.name)))
    val dataSchema: StructType = StructType(schema.filterNot(f => snap.partitionColumn.contains(f.name)))

    private def statuses(files: Seq[StoreFile]) = files.map(f => FileStatusWithMetadata(
      new FileStatus(f.size, false, 1, 128L << 20, f.mtime, new Path(root, f.path))))

    private val dirs: Seq[PartitionDirectory] = partitionSchema.headOption.fold(
      Seq(PartitionDirectory(InternalRow.empty, statuses(snap.files)))) { column =>
      snap.files.groupBy(_.partition).toSeq.sortBy(_._1).map { case (key, files) =>
        val value: Any = column.dataType match {
          case IntegerType => key.toInt
          case LongType => key.toLong
          case other => sys.error(s"unsupported partition column type $other")
        }
        PartitionDirectory(InternalRow(value), statuses(files))
      }
    }

    override def rootPaths: Seq[Path] = Seq(root)

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      // dynamic pruning filters are applied by the scan over the values
      // reported here; only static ones are evaluated
      partitionFilters.filterNot(_.exists(_.isInstanceOf[PlanExpression[_]])).reduceOption(And)
        .fold(dirs) { f =>
          val pred = Predicate.createInterpreted(f.transform {
            case a: AttributeReference => BoundReference(0, a.dataType, a.nullable)
          })
          dirs.filter(d => pred.eval(d.values))
        }
    }

    override def inputFiles: Array[String] = snap.files.map(f => new Path(root, f.path).toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = snap.files.map(_.size).sum
  }
}
