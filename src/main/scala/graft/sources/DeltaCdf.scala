package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Change Data Feed — the protocol's `delta.enableChangeDataFeed` table
  * property and `cdc` action (the reference stack exposes this as
  * `table_changes`; the Delta protocol spec defines the storage shape):
  * DML commits carry explicit row-level change files under
  * `_change_data/`, each holding the table columns plus `_change_type`
  * (`update_preimage` / `update_postimage` / `delete` / `insert`), so a
  * change reader gets true pre/post images instead of reconstructing a
  * multiset diff from the copy-on-write file lists.
  *
  * Reader contract (protocol): when a commit contains `cdc` actions,
  * they are the complete change record for that commit and its
  * `add`/`remove` actions MUST be ignored; when absent, changes derive
  * from the file actions — adds are inserts, and a rewrite commit falls
  * back to [[DeltaChanges.rowChanges]]' multiset diff (insert/delete
  * pairs, the honest no-keys reconstruction).
  *
  * Scale shape: change files are written by the same distributed staging
  * path as data files and are bounded by the rows a commit TOUCHED, not
  * the table; the feed read is bounded by the commits in range. CDC
  * files are never part of the live snapshot, so VACUUM's retention
  * walk ages them out by file mtime — past retention the feed for those
  * versions is gone, and [[tableChanges]] reports that explicitly.
  *
  * Deviation from Delta's physical layout (documented): change files for
  * partitioned tables carry the partition columns as ordinary data
  * columns (no hive-path encoding, `partitionValues` empty) — the
  * logical feed is identical.
  */
object DeltaCdf {

  val Property = "delta.enableChangeDataFeed"
  val ChangeDir = "_change_data"

  def enabled(configuration: Map[String, String]): Boolean =
    configuration.get(Property).exists(_.equalsIgnoreCase("true"))

  private val mapper = new ObjectMapper()

  private[sources] final case class CdcEntry(path: String, size: Long)

  /** Stage `df` (table columns + `_change_type`) as parquet change files
    * under `_change_data/`; returns log-relative paths. Distributed
    * write — only file metadata moves through the driver. Change files
    * of a name-mapped table hold PHYSICAL column names like data files
    * (`logicalSchema` drives the rename; `_change_type` passes through),
    * so the feed survives later column renames and foreign readers
    * resolve it per protocol. */
  private[sources] def writeCdcFiles(df: DataFrame, tablePath: String,
      logicalSchema: Option[StructType] = None): Seq[CdcEntry] = {
    val spark = df.sparkSession
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new Path(table, s".cdc-staging-${java.util.UUID.randomUUID()}")
    val out0 = logicalSchema.map(s => DeltaLog.toPhysical(df, s)).getOrElse(df)
    out0.write.mode("overwrite").parquet(staging.toString)
    val out = scala.collection.mutable.Buffer[CdcEntry]()
    fs.listStatus(staging).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("part-") && name.endsWith(".parquet")) {
        val rel = s"$ChangeDir/cdc-${java.util.UUID.randomUUID()}.parquet"
        val target = new Path(table, rel)
        fs.mkdirs(target.getParent)
        if (!fs.rename(st.getPath, target))
          throw new IllegalStateException(s"could not move change file to $target")
        out += CdcEntry(rel, st.getLen)
      }
    }
    fs.delete(staging, true)
    out.toSeq
  }

  private[sources] def cdcAction(e: CdcEntry): ObjectNode = {
    val n = mapper.createObjectNode()
    val cdc = mapper.createObjectNode()
      .put("path", e.path).put("size", e.size).put("dataChange", false)
    cdc.set[ObjectNode]("partitionValues", mapper.createObjectNode())
    n.set[ObjectNode]("cdc", cdc)
    n
  }

  /** One commit's row-level changes (table columns + `_change_type` +
    * `_commit_version`), preferring cdc change files (true pre/post
    * images), then the append fast path, then the multiset-diff
    * fallback; None for metadata/layout-only commits. `tableSchema` is
    * the schema the feed projects to (the range-end snapshot's). */
  private[graft] def commitChanges(spark: SparkSession, tablePath: String,
      v: Long, tableSchema: StructType): Option[DataFrame] = {
    val fs = DeltaLog.logDir(tablePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commit = new Path(DeltaLog.logDir(tablePath), f"$v%020d.json")
    if (!fs.exists(commit)) throw new IllegalStateException(
      s"commit $v of $tablePath no longer exists (log cleaned) — " +
        "change feed unavailable for this range")
    val cdcs = scala.collection.mutable.Buffer[String]()
    val adds = scala.collection.mutable.Buffer[String]()
    var dataRemove = false
    DeltaLog.withLogLines(fs, commit)(_.foreach { line =>
      val node = mapper.readTree(line)
      val cdc = node.get("cdc"); val add = node.get("add"); val rm = node.get("remove")
      def changes(n: com.fasterxml.jackson.databind.JsonNode) =
        !n.hasNonNull("dataChange") || n.get("dataChange").asBoolean(true)
      if (cdc != null) cdcs += cdc.get("path").asText()
      if (add != null && changes(add)) adds += add.get("path").asText()
      if (rm != null && changes(rm)) dataRemove = true
    })

    if (cdcs.nonEmpty) {
      // protocol: cdc actions are the commit's complete change record
      val paths = cdcs.toSeq.map { p =>
        val abs = new Path(tablePath, java.net.URLDecoder.decode(p, "UTF-8"))
        if (!fs.exists(abs)) throw new IllegalStateException(
          s"change file $p of commit $v was vacuumed — change feed " +
            "unavailable for this range")
        abs.toString
      }
      // change files hold physical names (like data files) — read
      // through them and project back to the CURRENT logical names, so
      // the feed keeps resolving across column renames
      val cdcSchema = StructType(
        DeltaLog.physicalSchema(tableSchema).fields.toSeq :+
        StructField("_change_type", StringType))
      Some(DeltaLog.fromPhysical(
        spark.read.schema(cdcSchema).parquet(paths: _*),
        tableSchema, extra = Seq("_change_type"))
        .withColumn("_commit_version", lit(v)))
    } else if (dataRemove) {
      // rewrite commit without change files: honest multiset diff
      Some(DeltaChanges.rowChanges(spark, tablePath, v))
    } else if (adds.nonEmpty) {
      // append-only commit: its added files ARE the inserted rows
      val snapV = DeltaLog.snapshot(spark, tablePath, Some(v))
      Some(DeltaLog.scanFiles(spark, snapV, snapV.liveEntries(adds.toSeq))
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(v)))
    } else None // metadata-only or layout-only commit
  }

  /** The feed for `[fromVersion, toVersion]` with no enablement gate —
    * the internal form shared by [[tableChanges]], the streaming CDF
    * mode, and incremental-view maintenance (which all want cdc files
    * when present and the file-action derivation when not). */
  private[graft] def changesInRange(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long,
      tableSchema: StructType): DataFrame = {
    val cols = tableSchema.fieldNames.toSeq
    val outSchema = StructType(tableSchema.fields.toSeq :+
      StructField("_change_type", StringType) :+
      StructField("_commit_version", LongType))
    def finish(df: DataFrame): DataFrame =
      df.select((cols.map(col) :+ col("_change_type") :+ col("_commit_version")): _*)
    val frames = (fromVersion to toVersion)
      .flatMap(v => commitChanges(spark, tablePath, v, tableSchema))
    if (frames.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), outSchema)
    else finish(frames.map(finish).reduce(_ unionByName _))
  }

  /** The row-level change feed for commits `[fromVersion, toVersion]`
    * (default: current version): table columns + `_change_type` +
    * `_commit_version`. Requires the feed enabled on the table; commits
    * predating the property still resolve through the file-action
    * fallback, so enabling-then-reading-history behaves like Delta's
    * "changes before CDF enablement" best-effort rather than a hole. */
  def tableChanges(spark: SparkSession, tablePath: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val endSnap = DeltaLog.snapshot(spark, tablePath, toVersion)
    // enablement is a property of the TABLE as it stands (a historical
    // range predating the property still reads via the fallback)
    val current =
      if (toVersion.isEmpty) endSnap else DeltaLog.snapshot(spark, tablePath)
    require(enabled(current.configuration),
      s"change data feed is not enabled on $tablePath (set $Property=true)")
    changesInRange(spark, tablePath, fromVersion, endSnap.version,
      endSnap.schema)
  }

  private val TableChangesRe =
    """(?is)(.*\bFROM\s+)table_changes\s*\(\s*'([^']+)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)(.*)""".r

  /** SQL surface for the feed (the reference stack's `table_changes`
    * table function): rewrites `… FROM table_changes('<path>', from[,
    * to]) …` to a temp view over [[tableChanges]] and runs the rest of
    * the statement through `spark.sql`. Returns None when the statement
    * doesn't use the function. */
  def dispatchSql(spark: SparkSession, sql: String): Option[DataFrame] =
    sql match {
      case TableChangesRe(pre, path, from, to, post) =>
        val view = "__table_changes__"
        tableChanges(spark, path, from.toLong,
          Option(to).map(_.toLong)).createOrReplaceTempView(view)
        Some(spark.sql(pre + view + post))
      case _ => None
    }
}
