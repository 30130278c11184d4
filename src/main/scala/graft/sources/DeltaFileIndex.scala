package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Parquet relations planned from the Delta log instead of the file
  * system — the log replacing LIST/HEAD is the point of a transaction
  * log (Armbrust et al., *Delta Lake*, VLDB 2020, §3).
  *
  * A path-based parquet read (`spark.read.parquet(paths)`) checks every
  * path for existence, then its `InMemoryFileIndex` stats every file
  * again — through a distributed listing job once there are more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths. Here
  * the index gets each file's `FileStatus` (qualified path, `size`,
  * `modificationTime`) from the snapshot's `add` entries through a
  * [[FileStatusCache]] that answers from them, so building the relation
  * launches no Spark job and makes no per-file file-system call on the
  * driver. Partition discovery, `basePath` handling and the `_metadata`
  * columns stay Spark's own; the one remaining driver call is the
  * `getFileStatus` of the `basePath` directory that partition discovery
  * makes.
  *
  * The log's `size` is trusted for split planning, so a wrong value
  * must not drop rows in silence: [[LogSizedParquetFormat]] compares it
  * with the file's real length in the task that opens the file.
  */
private[graft] object DeltaFileIndex {

  /** A parquet relation over `files` (qualified paths, the way a
    * listing would return them) read with `schema`; hive partition
    * directories below `basePath` become partition columns typed by
    * `schema`, as in a `basePath` read. */
  def relation(spark: SparkSession, schema: StructType, basePath: String,
      files: Seq[FileStatus]): HadoopFsRelation = {
    val options = Map("basePath" -> basePath)
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), options,
      Some(schema), new LogStatusCache(files))
    val partitionSchema = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => resolver(p.name, f.name))))
    HadoopFsRelation(index, partitionSchema,
      nullable(dataSchema).asInstanceOf[StructType], None,
      new LogSizedParquetFormat, options)(spark)
  }

  /** `t` with every field, element and value nullable, as a path-based
    * read declares its data schema. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  /** Answers every listing of a file path with its log status. The
    * statuses are the snapshot's, so invalidation has nothing to drop. */
  private final class LogStatusCache(files: Seq[FileStatus])
      extends FileStatusCache {
    private val byPath = files.map(f => f.getPath -> f).toMap
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      byPath.get(path).map(Array(_))
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }
}

/** Parquet whose planned file sizes come from the Delta log. Each file's
  * reader first compares the file's real length with the planned one.
  * On a mismatch a split that covers the whole planned file (start 0,
  * length = planned size) reads the whole real file; any other split
  * fails with an error naming the file and both sizes — the other splits
  * of the same file were planned from the wrong size too, so no split
  * can be trusted to cover its rows. A missing file fails the task. */
private[graft] final class LogSizedParquetFormat extends ParquetFileFormat {

  override def buildReaderWithPartitionValues(spark: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val read = super.buildReaderWithPartitionValues(spark, dataSchema,
      partitionSchema, requiredSchema, filters, options, hadoopConf)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    (file: PartitionedFile) => {
      val path = file.toPath
      val real = path.getFileSystem(conf.value.value).getFileStatus(path).getLen
      if (real == file.fileSize) read(file)
      else if (file.start == 0 && file.length == file.fileSize)
        read(file.copy(length = real, fileSize = real))
      else throw new IllegalStateException(
        s"Delta log records size ${file.fileSize} for $path but the file " +
          s"has $real bytes; its split at ${file.start}+${file.length} " +
          "cannot be read safely")
    }
  }

  override def equals(other: Any): Boolean = other.isInstanceOf[LogSizedParquetFormat]
  override def hashCode(): Int = classOf[LogSizedParquetFormat].hashCode
}
