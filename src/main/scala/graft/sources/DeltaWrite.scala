package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Minimal Delta Lake commit writer (public protocol, see [[DeltaLog]]):
  * data files are written distributed (plain parquet through the normal
  * Spark writer — partitioned writes keep hive-style layout), then ONE
  * driver-side metadata commit appends `<version>.json` to `_delta_log/`.
  * The commit rename is the atomicity point: `FileSystem.rename` onto an
  * existing name fails, so two racing writers cannot both claim a
  * version (the loser gets a conflict error, as in Delta's optimistic
  * concurrency).
  *
  * Covers the reference's `USING DELTA` DDL surface
  * (unity_catalog_scd.py:123-128) with create / append / overwrite,
  * plus parquet checkpoints + `_last_checkpoint` so logs replay in
  * O(commits-since-checkpoint) instead of O(all commits).
  */
object DeltaWrite {

  private val mapper = new ObjectMapper()
  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Write `df` as a new commit. Mode semantics:
    *   - Overwrite: previous live files are removed in the same commit
    *     (copy-on-write replace — time travel still sees them);
    *   - Append: adds only;
    *   - ErrorIfExists: table must not exist yet (version 0).
    *
    * `mergeSchema` (appends): NEW columns in the incoming frame widen
    * the table schema (recorded nullable, in the same commit — Delta's
    * schema evolution); columns the frame lacks read back as NULL from
    * its files. Without it, appends must match the table schema exactly
    * (name+type, order-insensitive) — a silent mismatched append would
    * corrupt every later scan that trusts metaData.schemaString. Either
    * way a column present on both sides must keep its type.
    */
  def write(df: DataFrame, tablePath: String,
      mode: SaveMode = SaveMode.ErrorIfExists,
      partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val table = new Path(tablePath)
    val f = fs(spark, table)
    val exists = f.exists(DeltaLog.logDir(tablePath))
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"Delta table already exists: $tablePath")
      case SaveMode.Ignore if exists => return DeltaLog.latestVersion(spark, tablePath)
      case _ =>
    }

    // Metadata checks BEFORE the distributed write: a rejected write
    // must not first spend the full staging cost and leave orphaned
    // part files in the table directory.
    val prior =
      if (exists) Some(DeltaLog.snapshot(spark, tablePath)) else None
    prior.foreach(DeltaLog.checkWritable)
    if (mode == SaveMode.Overwrite)
      prior.foreach(DeltaLog.checkAppendOnly(_, "OVERWRITE"))

    // Generated columns: appends may OMIT them — compute each from its
    // recorded expression before the schema check. Supplied values are
    // instead validated over the staged files (enforceStaged), per the
    // protocol's writer obligation.
    val data =
      if (exists && mode == SaveMode.Append)
        DeltaGenerated.fillMissing(df, prior.get.schema)
      else df

    var widened: Option[org.apache.spark.sql.types.StructType] = None
    if (exists && mode == SaveMode.Append) {
      val tableSchema = prior.get.schema
      val incoming = data.schema
      val tableTypes = tableSchema.fields.map(f => f.name -> f.dataType).toMap
      val conflicts = incoming.fields.filter(f =>
        tableTypes.get(f.name).exists(_ != f.dataType))
      require(conflicts.isEmpty,
        s"append changes column type(s) ${conflicts.map(_.name).mkString(", ")} " +
          s"of $tablePath (table ${tableSchema.simpleString})")
      val newCols = incoming.fields.filterNot(f => tableTypes.contains(f.name))
      if (mergeSchema) {
        if (newCols.nonEmpty)
          widened = Some(org.apache.spark.sql.types.StructType(
            tableSchema.fields ++ newCols.map(_.copy(nullable = true))))
      } else {
        val missing = tableSchema.fields.filterNot(f =>
          incoming.fieldNames.contains(f.name))
        require(newCols.isEmpty && missing.isEmpty,
          s"append schema ${incoming.simpleString} does not match table " +
            s"schema ${tableSchema.simpleString} at $tablePath " +
            "(pass mergeSchema = true to evolve)")
      }
    }

    // Appends inherit the TABLE's partitioning (the caller need not
    // re-state it; staging unpartitioned files into a partitioned table
    // would silently break partition pruning). Create/overwrite use the
    // caller's layout.
    val effPartitionBy =
      if (mode == SaveMode.Append)
        prior.map(_.partitionColumns).getOrElse(partitionBy)
      else partitionBy
    // Mapped tables: appends are supported (files written with physical
    // names); overwrite and schema widening would have to mint fresh
    // column ids / physical names for a replaced schema — out of scope,
    // rejected loudly.
    val mapped = prior.exists(_.columnMappingMode != "none")
    if (mapped && mode == SaveMode.Overwrite)
      throw new UnsupportedOperationException(
        s"$tablePath uses column mapping; overwrite would replace the " +
          "mapped schema — write a new table instead")
    if (mapped && widened.nonEmpty)
      throw new UnsupportedOperationException(
        s"$tablePath uses column mapping; use ALTER TABLE ADD COLUMNS " +
          "(which assigns fresh physical names) instead of mergeSchema")
    val adds = writeDataFiles(data, tablePath, effPartitionBy,
      if (mapped) prior.map(_.schema) else None)
    // CHECK constraints + generated-column expressions veto the commit
    // (staged files are deleted). Validation runs against the TABLE
    // schema — the generation metadata lives there, not on the
    // incoming frame.
    prior.foreach(p => DeltaConstraints.enforceStaged(
      spark, tablePath, adds, p.schema, p.configuration))
    val removes: Seq[String] =
      if (mode == SaveMode.Overwrite) prior.toSeq.flatMap(_.files.map(_.path))
      else Nil

    val actions = mutable.Buffer[ObjectNode]()
    if (!exists) actions += createProtocolAction(data.schema)
    prior.foreach { p =>
      val newSchema = widened.getOrElse(
        if (mode == SaveMode.Overwrite) data.schema else p.schema)
      ntzUpgradeAction(p.protocol, newSchema).foreach(actions += _)
    }
    if (!exists || mode == SaveMode.Overwrite)
      // overwrite replaces data + schema but keeps table PROPERTIES
      // (constraints survive an INSERT OVERWRITE, as in Delta)
      actions += metaDataAction(data.schema, partitionBy,
        prior.map(_.configuration).getOrElse(Map.empty),
        prior.flatMap(_.metaDataId))
    widened.foreach(w => actions += metaDataAction(w,
      prior.map(_.partitionColumns).getOrElse(partitionBy),
      prior.map(_.configuration).getOrElse(Map.empty),
      prior.flatMap(_.metaDataId)))
    actions ++= removes.map(removeAction)
    actions ++= adds.map(addAction)
    // Optimistic concurrency: an append conflicts with a concurrent
    // commit only on the version NUMBER, never semantically (its files
    // are already staged and no remove depends on a snapshot), so it
    // retries against the next version. Overwrite/DML computed removes
    // from a snapshot that just changed — the conflict surfaces to the
    // caller, who must re-read and redo (Delta's own semantics).
    commit(spark, tablePath, actions.toSeq,
      operation = if (exists) mode.toString.toUpperCase else "CREATE TABLE",
      maxRetries = if (exists && mode == SaveMode.Append) 20 else 0,
      snapHint = prior)
  }

  /** Append a commit of explicit actions (used by [[DeltaDml]]). Returns
    * the committed version. With `maxRetries` > 0, a version-number race
    * (rename onto an existing commit fails) re-lists and retries — only
    * safe when the actions do not depend on the snapshot (appends). */
  private[sources] def commit(spark: SparkSession, tablePath: String,
      actions: Seq[ObjectNode], operation: String, maxRetries: Int = 0,
      ictExplicit: Option[Long] = None,
      snapHint: Option[DeltaLog.Snapshot] = None): Long = {
    val dir = DeltaLog.logDir(tablePath)
    val f = fs(spark, dir)
    f.mkdirs(dir)
    // In-commit timestamps (writer feature `inCommitTimestamp`): once a
    // table's commitInfo carries one, every later commit must carry a
    // STRICTLY greater one, and readers trust it over file mtime for
    // TIMESTAMP AS OF. The enablement commit passes `ictExplicit`;
    // inheritance reads the PREVIOUS commit's commitInfo. After log
    // cleanup the previous commit JSON may be gone — then the
    // enablement-timestamp property (recorded at enablement, per the
    // protocol) re-seeds monotonicity; that snapshot read happens at
    // most once per cleanup (the next commit's predecessor exists again).
    lazy val cleanedSeed: Option[Long] =
      scala.util.Try(DeltaLog.snapshot(spark, tablePath)).toOption
        .flatMap(_.configuration.get(
          "delta.inCommitTimestampEnablementTimestamp"))
        .map(_.toLong)
    var attempt = 0
    // add nodes THIS commit stamped with row ids — restamped on a
    // version-conflict retry against a fresh high-water mark (the
    // concurrent winner may have advanced it)
    val rtStamped = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[ObjectNode, java.lang.Boolean]())
    while (true) {
      val version = nextVersion(f, dir)
      val prevIct = DeltaLog.commitIct(spark, tablePath, version - 1)
      val ict: Option[Long] = ictExplicit match {
        case Some(e) => Some(prevIct.fold(e)(p => math.max(e, p + 1)))
        case None => prevIct match {
          case Some(p) => Some(math.max(System.currentTimeMillis(), p + 1))
          case None if version > 0 && !f.exists(
              new Path(dir, f"${version - 1}%020d.json")) =>
            cleanedSeed.map(s => math.max(System.currentTimeMillis(), s + 1))
          case None => None
        }
      }
      val ci = mapper.createObjectNode()
        .put("timestamp", System.currentTimeMillis())
        .put("operation", operation).put("engineInfo", "graft-spark")
      ict.foreach(t => ci.put("inCommitTimestamp", t))
      val info = mapper.createObjectNode()
      info.set[ObjectNode]("commitInfo", ci)
      val effActions = RowTracking.stamp(spark, tablePath,
        if (attempt == 0) snapHint else None, version, actions, rtStamped)
      val body = (info +: effActions).map(mapper.writeValueAsString).mkString("\n")
      val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID()}.json")
      val out = f.create(tmp, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      val target = new Path(dir, f"$version%020d.json")
      // Claim-the-version atomicity: POSIX rename() CLOBBERS an existing
      // target, so on local filesystems the primitive is link(2) — hard-
      // linking the temp file onto the commit name fails atomically with
      // EEXIST when another writer won. On stores whose rename is
      // no-clobber (HDFS), exists+rename suffices.
      val won =
        if (f.getScheme == "file") {
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(target.toUri.getPath),
              java.nio.file.Paths.get(tmp.toUri.getPath))
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        } else !f.exists(target) && f.rename(tmp, target)
      f.delete(tmp, false) // the link carries the commit; tmp goes either way
      if (won) {
        autoCheckpoint(spark, tablePath, version, actions, snapHint)
        DeltaChecksum.write(spark, tablePath, version)
        return version
      }
      attempt += 1
      if (attempt > maxRetries)
        throw new IllegalStateException(
          s"concurrent Delta commit conflict at version $version for $tablePath")
    }
    -1L // unreachable
  }

  /** Automatic checkpoint cadence (`delta.checkpointInterval`, Delta's
    * own property): after a landed commit whose version is a multiple
    * of the interval, write a classic checkpoint so replay stays
    * bounded WITHOUT manual CHECKPOINT calls — on a 100 TB table fed by
    * a streaming sink, an uncheckpointed log grows one JSON replay per
    * batch forever. The property is read from THIS commit's metaData
    * action (it may be the commit that sets it) or the caller's
    * snapshot hint — never from an extra log replay, which would tax
    * every commit for a cadence check. Best-effort by contract: the
    * commit has already landed; a checkpoint failure (e.g. a concurrent
    * writer checkpointing the same version) must not fail it. */
  private def autoCheckpoint(spark: SparkSession, tablePath: String,
      version: Long, actions: Seq[ObjectNode],
      snapHint: Option[DeltaLog.Snapshot]): Unit = {
    val fromActions = actions.reverseIterator
      .flatMap(a => Option(a.get("metaData")))
      .flatMap(md => Option(md.get("configuration")))
      .flatMap(c => Option(c.get("delta.checkpointInterval")))
      .map(_.asText()).nextOption()
    val interval = fromActions
      .orElse(snapHint.flatMap(_.configuration.get("delta.checkpointInterval")))
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
    interval.foreach { n =>
      if (n > 0 && version > 0 && version % n == 0)
        try checkpoint(spark, tablePath)
        catch { case _: Exception => } // cadence is an optimization
    }
  }

  /** Write a parquet checkpoint of the current snapshot plus the
    * `_last_checkpoint` pointer, so readers skip replaying old commits.
    *
    * `parts > 1` writes the protocol's multi-part form
    * (`<v>.checkpoint.<i>.<n>.parquet`, 1-based): a 100 TB table's
    * checkpoint is millions of `add` rows — one parquet file becomes the
    * bootstrap bottleneck, while N parts let the reader's
    * `spark.read.parquet(parts: _*)` parallelize the replay scan. Add
    * entries are distributed round-robin; protocol + metaData ride in
    * part 1 (replay order does not matter within a checkpoint). */
  def checkpoint(spark: SparkSession, tablePath: String, parts: Int = 1): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val snap = DeltaLog.snapshot(spark, tablePath)
    // `delta.checkpointPolicy = v2` (protocol property): the TABLE
    // chooses its checkpoint form — every checkpoint, including the
    // automatic delta.checkpointInterval cadence, must then be the V2
    // manifest+sidecar form, not the classic one-shot parquet.
    if (snap.configuration.get("delta.checkpointPolicy").contains("v2"))
      return checkpointV2(spark, tablePath, sidecars = math.max(1, parts))
    val ckptSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType), StructField("size", LongType),
        StructField("dataChange", BooleanType),
        StructField("modificationTime", LongType),
        StructField("stats", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", LongType),
          StructField("sizeInBytes", LongType),
          StructField("cardinality", LongType)))),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType), StructField("schemaString", StringType),
        // format is part of the protocol's metaData action; foreign
        // readers bootstrapping from this checkpoint expect it (the V2
        // JSON manifest branch always wrote it)
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType), StructField("version", LongType)))),
      // LIVE domains ride in the checkpoint (protocol requirement): a
      // cleaned log must not forget the row-id high-water mark
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    // txn state rides in the checkpoint (protocol requirement): without
    // it, checkpoint + log cleanup would FORGET which streaming batches
    // committed, and a restarted sink would re-apply them.
    val hasDv = snap.files.exists(_.dv.isDefined)
    // Column-mapped tables need reader 2 / writer 5 recorded in the
    // checkpoint too — a reader bootstrapping from it must see the same
    // protocol floor the commit log carried. The replayed protocol (with
    // its FEATURE LISTS — inCommitTimestamp, deletionVectors) rides in
    // the checkpoint verbatim, floored by the derived versions, so a
    // cleaned log does not forget the table's feature record.
    val mapped = snap.columnMappingMode != "none"
    val derivedReader = if (hasDv) 3 else if (mapped) 2 else 1
    val derivedWriter = if (hasDv) 7 else if (mapped) 5 else 2
    val proto = snap.protocol
    val header: Seq[Row] =
      Seq(Row(null, Row(
        math.max(proto.minReader, derivedReader),
        math.max(proto.minWriter, derivedWriter),
        if (proto.readerFeatures.nonEmpty) proto.readerFeatures else null,
        if (proto.writerFeatures.nonEmpty) proto.writerFeatures else null),
        null, null, null),
        Row(null, null, Row(
          snap.metaDataId.getOrElse(java.util.UUID.randomUUID().toString),
          snap.schema.json, Row("parquet", Map.empty[String, String]),
          snap.partitionColumns, snap.configuration),
          null, null)) ++
        snap.txns.toSeq.sortBy(_._1).map { case (app, v) =>
          Row(null, null, null, Row(app, v), null)
        } ++
        snap.domainMetadata.toSeq.sortBy(_._1).map { case (dom, cfg) =>
          Row(null, null, null, null, Row(dom, cfg, false))
        }
    // partitionValues recorded for real (protocol requirement): external
    // readers bootstrap partition columns from the add entry, not from
    // the hive path — an empty map would misread partitioned tables.
    val addRows = snap.files.map(a =>
      Row(Row(a.path, a.size, false, a.modificationTime, a.stats.orNull,
        partitionValuesMap(a.path),
        a.dv.map(d => Row(d.storageType, d.rawOrPath, if (d.inline) null else d.offset, d.sizeInBytes, d.cardinality)).orNull,
        a.baseRowId.map(Long.box).orNull,
        a.defaultRowCommitVersion.map(Long.box).orNull),
        null, null, null, null))
    val dir = DeltaLog.logDir(tablePath)
    val f = fs(spark, dir)

    // Parts are fully staged under hidden names BEFORE any is published:
    // a reader never lists a half-written parquet. The publish renames
    // themselves are not atomic as a group — which is why DeltaLog only
    // trusts a multi-part checkpoint when all n parts are present (a
    // reader racing this loop, or landing after a crash inside it, falls
    // back to the previous checkpoint / full replay instead of silently
    // bootstrapping from a partial live-file set).
    def stagePart(rows: Seq[Row]): Path = {
      val staging = new Path(dir, s".ckpt-${java.util.UUID.randomUUID()}")
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1).asInstanceOf[org.apache.spark.rdd.RDD[Row]],
          ckptSchema)
        .write.mode("overwrite").parquet(staging.toString)
      val part = f.listStatus(staging).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("checkpoint write produced no part file"))
      val hidden = new Path(dir, s".ckpt-staged-${java.util.UUID.randomUUID()}.parquet")
      if (!f.rename(part, hidden))
        throw new IllegalStateException(s"could not stage checkpoint part $hidden")
      f.delete(staging, true)
      hidden
    }
    def publish(staged: Seq[(Path, Path)]): Unit =
      staged.foreach { case (hidden, target) =>
        f.delete(target, false)
        if (!f.rename(hidden, target))
          throw new IllegalStateException(s"could not place checkpoint $target")
      }

    if (parts == 1) {
      publish(Seq(stagePart(header ++ addRows) ->
        new Path(dir, f"${snap.version}%020d.checkpoint.parquet")))
    } else {
      val slices = Array.fill(parts)(scala.collection.mutable.Buffer[Row]())
      addRows.zipWithIndex.foreach { case (r, i) => slices(i % parts) += r }
      publish((0 until parts).map { i =>
        val rows = (if (i == 0) header else Nil) ++ slices(i)
        stagePart(rows) -> new Path(dir,
          f"${snap.version}%020d.checkpoint.${i + 1}%010d.$parts%010d.parquet")
      })
    }
    val lc = f.create(new Path(dir, "_last_checkpoint"), true)
    val partsField = if (parts > 1) s""","parts":$parts""" else ""
    try lc.write(
      s"""{"version":${snap.version},"size":${snap.files.size + 2 + snap.txns.size + snap.domainMetadata.size}$partsField}"""
        .getBytes("UTF-8")) finally lc.close()
    snap.version
  }

  /** Write the protocol's V2 checkpoint form: a MANIFEST parquet
    * (`<v>.checkpoint.<uuid>.parquet`) holding protocol / metaData /
    * txn / checkpointMetadata plus `sidecar` references, with every
    * `add` entry in sidecar parquet files under `_delta_log/_sidecars/`.
    * Why this form exists (and why it is the 100 TB checkpoint): the
    * manifest stays tiny no matter how many files the table has, the
    * sidecars parallelize the bootstrap scan like multi-part parts do,
    * and — unlike parts — an incremental writer may REUSE unchanged
    * sidecars across checkpoints (not implemented here; the layout is
    * what enables it). Requires the `v2Checkpoint` table feature: if the
    * table does not carry it yet, a protocol-upgrade commit (reader 3 /
    * writer 7, feature lists preserved) lands first. Sidecars are fully
    * staged before the manifest publishes, and the reader refuses a
    * manifest whose sidecar is missing. */
  def checkpointV2(spark: SparkSession, tablePath: String,
      sidecars: Int = 1, manifestFormat: String = "parquet"): Long = {
    require(manifestFormat == "parquet" || manifestFormat == "json",
      s"manifestFormat must be parquet or json, got $manifestFormat")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(sidecars >= 1, s"sidecars must be >= 1, got $sidecars")
    var snap = DeltaLog.snapshot(spark, tablePath)
    if (!snap.protocol.readerFeatures.contains("v2Checkpoint")) {
      commit(spark, tablePath,
        Seq(featureProtocolAction(snap.protocol,
          Seq("v2Checkpoint"), Seq("v2Checkpoint"))),
        operation = "UPGRADE PROTOCOL")
      snap = DeltaLog.snapshot(spark, tablePath)
    }
    val addStruct = StructType(Seq(
      StructField("path", StringType), StructField("size", LongType),
      StructField("dataChange", BooleanType),
      StructField("modificationTime", LongType),
      StructField("stats", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", LongType),
        StructField("sizeInBytes", LongType),
        StructField("cardinality", LongType)))),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))
    val sidecarSchema = StructType(Seq(StructField("add", addStruct)))
    val manifestSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType), StructField("schemaString", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType), StructField("version", LongType)))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))),
      // non-file actions belong in the MANIFEST (protocol): live
      // domains must survive log cleanup like protocol/metaData do
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))

    val dir = DeltaLog.logDir(tablePath)
    val f = fs(spark, dir)
    val scDir = new Path(dir, "_sidecars")
    f.mkdirs(scDir)

    def writeOne(target: Path, rows: Seq[Row], schema: StructType): Long = {
      val staging = new Path(dir, s".ckpt-v2-${java.util.UUID.randomUUID()}")
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1)
            .asInstanceOf[org.apache.spark.rdd.RDD[Row]], schema)
        .write.mode("overwrite").parquet(staging.toString)
      val part = f.listStatus(staging).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("checkpoint write produced no part file"))
      val size = f.getFileStatus(part).getLen
      f.delete(target, false)
      if (!f.rename(part, target))
        throw new IllegalStateException(s"could not place $target")
      f.delete(staging, true)
      size
    }

    // Buckets are keyed by a STABLE hash of the file path (not
    // round-robin): an unchanged bucket yields the identical add set at
    // the next checkpoint, which is what makes sidecar REUSE sound — the
    // incremental property this layout exists for. With N sidecars, a
    // checkpoint after k file changes rewrites ~min(k, N) sidecars and
    // REFERENCES the rest; at 100 TB (millions of adds, hundreds of
    // sidecars) that turns every checkpoint after the first from a
    // full-metadata rewrite into a delta-sized one.
    def bucketOf(path: String): Int =
      math.floorMod(scala.util.hashing.MurmurHash3.stringHash(path), sidecars)
    // the dv component carries path@offset+size so a re-vectored file
    // (same dv path, new offset) never false-matches a prior sidecar;
    // baseRowId keyed too — a row-tracking backfill re-add must not
    // reuse a sidecar whose rows lack the assigned ids
    def contentKey(path: String, size: Long, stats: Option[String],
        dv: Option[String], dvCard: Option[Long],
        baseRowId: Option[Long]) =
      (path, size, stats.getOrElse(""), dv.getOrElse(""),
        dvCard.getOrElse(-1L), baseRowId.getOrElse(-1L))
    val buckets: Seq[Seq[DeltaLog.AddEntry]] = {
      val bs = Array.fill(sidecars)(scala.collection.mutable.Buffer[DeltaLog.AddEntry]())
      snap.files.foreach(a => bs(bucketOf(a.path)) += a)
      bs.toSeq.map(_.sortBy(_.path).toSeq)
    }
    // Prior v2 manifest (if any, and if written with the same bucket
    // count): map each prior sidecar's CONTENT set to its (name, size)
    // so byte-equal buckets are referenced instead of rewritten.
    val priorSidecars: Map[Set[(String, Long, String, String, Long, Long)], (String, Long)] = {
      val priors = f.listStatus(dir).map(_.getPath).flatMap(p => p.getName match {
        case v2 if v2.matches("""\d{20}\.checkpoint\.[0-9a-fA-F-]{36}\.(?:parquet|json)""") =>
          Some(v2.take(20).toLong -> p)
        case _ => None
      })
      priors.sortBy(-_._1).headOption match {
        case None => Map.empty
        case Some((_, manifest)) =>
          // prior manifest may be either form; only its sidecar refs matter
          val named: Map[String, Long] =
            (if (manifest.getName.endsWith(".json")) {
              DeltaLog.withLogLines(f, manifest)(_.map(mapper.readTree)
                .flatMap(n => Option(n.get("sidecar")))
                .map(sc => sc.get("path").asText() ->
                  sc.get("sizeInBytes").asLong())
                .toMap)
            } else {
              val refs = spark.read.parquet(manifest.toString)
              if (!refs.columns.contains("sidecar")) Map.empty[String, Long]
              else refs.select("sidecar").collect()
                .filter(!_.isNullAt(0)).map(_.getStruct(0))
                .map(sc => sc.getAs[String]("path") ->
                  sc.getAs[Long]("sizeInBytes"))
                .toMap
            }).filter { case (name, _) => f.exists(new Path(scDir, name)) }
          if (named.isEmpty) Map.empty
          else {
              // ONE read over every prior sidecar, grouped back by file —
              // a per-sidecar read would launch N driver jobs per checkpoint
              val rows = spark.read
                .parquet(named.keys.toSeq.map(n => new Path(scDir, n).toString): _*)
                .select(org.apache.spark.sql.functions.input_file_name().as("f"),
                  org.apache.spark.sql.functions.col("add"))
                .collect()
              val nameToKeys = rows.filter(!_.isNullAt(1))
                .groupBy(r => new Path(r.getString(0)).getName)
                .map { case (name, rs) =>
                  name -> rs.map(_.getStruct(1)).map { a =>
                    val dv = Option(a.getAs[Row]("deletionVector"))
                    // offset is NULL for inline descriptors — a bare
                    // getAs[Long] would NPE on unboxing
                    val base =
                      if (a.schema.fieldNames.contains("baseRowId") &&
                          !a.isNullAt(a.fieldIndex("baseRowId")))
                        Some(a.getAs[Long]("baseRowId"))
                      else None
                    contentKey(a.getAs[String]("path"), a.getAs[Long]("size"),
                      Option(a.getAs[String]("stats")),
                      dv.map(d => d.getAs[String]("pathOrInlineDv") +
                        "@" + (if (d.isNullAt(d.fieldIndex("offset"))) "i"
                          else d.getAs[Long]("offset").toString) +
                        "+" + d.getAs[Long]("sizeInBytes")),
                      dv.map(_.getAs[Long]("cardinality")), base)
                  }.toSet
                }
              // files absent from the scan were EMPTY sidecars — they
              // legitimately match (and serve) an empty bucket
              named.map { case (n, sz) =>
                nameToKeys.getOrElse(n,
                  Set.empty[(String, Long, String, String, Long, Long)]) -> (n, sz)
              }
            }
      }
    }
    // unchanged buckets are referenced; changed ones land (fully
    // written) BEFORE the manifest that names them
    val sidecarRefs: Seq[(String, Long, Long)] = buckets.map { bucket =>
      // key on the SERIALIZED descriptor fields (rawOrPath + the
      // offset form the sidecar row stores) — keying on the resolved
      // d.path/d.offset never matches what reads back from a prior
      // sidecar for 'u'/'i' descriptors, silently disabling reuse for
      // exactly the forms the writer now emits
      val ks = bucket.map(a => contentKey(a.path, a.size, a.stats,
        a.dv.map(d => d.rawOrPath + "@" +
          (if (d.inline) "i" else d.offset.toString) + "+" + d.sizeInBytes),
        a.dv.map(_.cardinality), a.baseRowId)).toSet
      priorSidecars.get(ks) match {
        case Some((name, sz)) => (name, sz)
        case None =>
          val rows = bucket.map(a =>
            Row(Row(a.path, a.size, false, a.modificationTime, a.stats.orNull,
              partitionValuesMap(a.path),
              a.dv.map(d => Row(d.storageType, d.rawOrPath, if (d.inline) null else d.offset, d.sizeInBytes, d.cardinality)).orNull,
              a.baseRowId.map(Long.box).orNull,
              a.defaultRowCommitVersion.map(Long.box).orNull)))
          val name = s"${java.util.UUID.randomUUID()}.parquet"
          val size = writeOne(new Path(scDir, name), rows, sidecarSchema)
          (name, size)
      }
    }.map { case (name, sz) =>
      (name, sz, f.getFileStatus(new Path(scDir, name)).getModificationTime)
    }
    val sidecarRows = sidecarRefs.map { case (n, sz, mtime) =>
      Row(null, null, null, null, Row(n, sz, mtime), null)
    }
    val proto = snap.protocol
    val manifest: Seq[Row] =
      Seq(
        Row(Row(proto.minReader, proto.minWriter,
          if (proto.readerFeatures.nonEmpty) proto.readerFeatures else null,
          if (proto.writerFeatures.nonEmpty) proto.writerFeatures else null),
          null, null, null, null, null),
        Row(null, Row(
          snap.metaDataId.getOrElse(java.util.UUID.randomUUID().toString),
          snap.schema.json, Row("parquet", Map.empty[String, String]),
          snap.partitionColumns, snap.configuration),
          null, null, null, null),
        Row(null, null, null, Row(snap.version), null, null)) ++
        snap.txns.toSeq.sortBy(_._1).map { case (app, v) =>
          Row(null, null, Row(app, v), null, null, null)
        } ++
        snap.domainMetadata.toSeq.sortBy(_._1).map { case (dom, cfg) =>
          Row(null, null, null, null, null, Row(dom, cfg, false))
        } ++ sidecarRows
    if (manifestFormat == "json") {
      // V2 JSON-manifest form: same actions, one JSON object per line.
      // Sidecars stay parquet (the protocol fixes their format).
      val proto2 = mapper.createObjectNode()
      val pn = proto2.putObject("protocol")
      pn.put("minReaderVersion", proto.minReader)
      pn.put("minWriterVersion", proto.minWriter)
      if (proto.readerFeatures.nonEmpty) {
        val a = pn.putArray("readerFeatures")
        proto.readerFeatures.foreach(a.add)
      }
      if (proto.writerFeatures.nonEmpty) {
        val a = pn.putArray("writerFeatures")
        proto.writerFeatures.foreach(a.add)
      }
      val mdN = mapper.createObjectNode()
      val m = mdN.putObject("metaData")
      m.put("id", snap.metaDataId.getOrElse(java.util.UUID.randomUUID().toString))
      m.put("schemaString", snap.schema.json)
      val pc = m.putArray("partitionColumns")
      snap.partitionColumns.foreach(pc.add)
      val cfg = m.putObject("configuration")
      snap.configuration.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
      val fmtN = m.putObject("format")
      fmtN.put("provider", "parquet"); fmtN.putObject("options")
      val ckN = mapper.createObjectNode()
      ckN.putObject("checkpointMetadata").put("version", snap.version)
      val txnNs = snap.txns.toSeq.sortBy(_._1).map { case (app, v) =>
        val n = mapper.createObjectNode()
        val t = n.putObject("txn"); t.put("appId", app); t.put("version", v); n
      }
      val domNs = snap.domainMetadata.toSeq.sortBy(_._1).map { case (dom, c) =>
        val n = mapper.createObjectNode()
        val d = n.putObject("domainMetadata")
        d.put("domain", dom); d.put("configuration", c); d.put("removed", false); n
      }
      val scNs = sidecarRefs.map { case (name, sz, mtime) =>
        val n = mapper.createObjectNode()
        val s = n.putObject("sidecar")
        s.put("path", name); s.put("sizeInBytes", sz); s.put("modificationTime", mtime); n
      }
      val target = new Path(dir,
        f"${snap.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.json")
      // stage + rename: listLog's V2 pattern matches the FINAL name, so
      // a racing reader must never see a half-written manifest (dot-tmp
      // names match no lister pattern; rename is the atomic publish,
      // same discipline as writeOne and the commit writer)
      val tmp = new Path(dir, s".tmp-ckpt-${java.util.UUID.randomUUID()}.json")
      val os = f.create(tmp, true)
      try {
        val w = new java.io.OutputStreamWriter(os, "UTF-8")
        (Seq(proto2, mdN, ckN) ++ txnNs ++ domNs ++ scNs).foreach { n =>
          w.write(mapper.writeValueAsString(n)); w.write("\n")
        }
        w.flush()
      } finally os.close()
      if (!f.rename(tmp, target))
        throw new IllegalStateException(s"could not place $target")
    } else writeOne(new Path(dir,
      f"${snap.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"),
      manifest, manifestSchema)
    val lc = f.create(new Path(dir, "_last_checkpoint"), true)
    try lc.write(
      s"""{"version":${snap.version},"size":${manifest.size + snap.files.size}}"""
        .getBytes("UTF-8")) finally lc.close()
    snap.version
  }

  /** Distributed data-file write: stage through a hidden subdirectory,
    * then move the part files into the table root (keeping any hive-style
    * partition subpaths). Only file METADATA moves through the driver. */
  /** `logicalSchema` (writes into an EXISTING table): the table's
    * logical schema with mapping metadata — a name-mapped table's files
    * must hold PHYSICAL column names, so the frame is renamed through
    * [[DeltaLog.toPhysical]] before staging (no-op unmapped). Partition
    * columns keep physical == logical by construction (immovable after
    * the mapping upgrade), so the hive layout needs no translation. */
  private[sources] def writeDataFiles(df: DataFrame, tablePath: String,
      partitionBy: Seq[String],
      logicalSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[DeltaLog.AddEntry] = {
    val spark = df.sparkSession
    val table = new Path(tablePath)
    val f = fs(spark, table)
    val staging = new Path(table, s".staging-${java.util.UUID.randomUUID()}")
    val out = logicalSchema.map(s => DeltaLog.toPhysical(df, s)).getOrElse(df)
    val writer = out.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(staging.toString)

    val moved = mutable.Buffer[(String, Path, FileStatus)]()
    def walk(p: Path, rel: String): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, s"$rel$name/")
        else if (name.startsWith("part-") && name.endsWith(".parquet")) {
          val relPath = s"$rel$name"
          val target = new Path(table, relPath)
          f.mkdirs(target.getParent)
          if (!f.rename(st.getPath, target))
            throw new IllegalStateException(s"could not move data file to $target")
          // the mtime read back after the move: a rename that copies
          // (object stores) gives the file a new one
          moved += ((relPath, target, f.getFileStatus(target)))
        }
      }
    walk(staging, "")
    f.delete(staging, true)
    // Footer-derived per-file stats enable data skipping on read;
    // best-effort (None on any parse trouble — stats are an optimization,
    // never a dependency). Footer reads are independent — harvest them in
    // parallel so a many-file commit is not serialized on the driver.
    val conf = spark.sessionState.newHadoopConf()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Await.result(
      Future.sequence(moved.toSeq.map { case (relPath, target, st) =>
        Future(DeltaLog.AddEntry(relPath, st.getLen,
          DataSkipping.statsJson(conf, target),
          modificationTime = st.getModificationTime))
      }), 10.minutes)
  }

  private[sources] def addAction(a: DeltaLog.AddEntry): ObjectNode =
    addAction(a, dataChange = true)

  private[sources] def addAction(a: DeltaLog.AddEntry,
      dataChange: Boolean): ObjectNode = {
    val n = mapper.createObjectNode()
    val add = mapper.createObjectNode()
      .put("path", a.path).put("size", a.size)
      .put("modificationTime", a.modificationTime).put("dataChange", dataChange)
    a.stats.foreach(add.put("stats", _))
    a.baseRowId.foreach(add.put("baseRowId", _))
    a.defaultRowCommitVersion.foreach(add.put("defaultRowCommitVersion", _))
    a.dv.foreach { d =>
      // the ORIGINAL storage form round-trips: a foreign 'u'/'i'
      // descriptor re-committed here must not be rewritten as a 'p'
      // with a relative path ('p' is absolute per the protocol)
      val dvNode = mapper.createObjectNode()
        .put("storageType", d.storageType).put("pathOrInlineDv", d.rawOrPath)
      // offset exists only for file-backed vectors (protocol: absent
      // for inline payloads)
      if (!d.inline) dvNode.put("offset", d.offset)
      dvNode.put("sizeInBytes", d.sizeInBytes).put("cardinality", d.cardinality)
      add.set[ObjectNode]("deletionVector", dvNode)
    }
    add.set[ObjectNode]("partitionValues", partitionValuesOf(a.path))
    n.set[ObjectNode]("add", add)
    n
  }

  private[sources] def txnAction(appId: String, version: Long): ObjectNode = {
    val n = mapper.createObjectNode()
    n.set[ObjectNode]("txn", mapper.createObjectNode()
      .put("appId", appId).put("version", version).put("lastUpdated", 0L))
    n
  }

  private[sources] def domainMetadataAction(domain: String,
      configuration: String, removed: Boolean = false): ObjectNode = {
    val n = mapper.createObjectNode()
    n.set[ObjectNode]("domainMetadata", mapper.createObjectNode()
      .put("domain", domain).put("configuration", configuration)
      .put("removed", removed))
    n
  }

  /** Idempotent append for a streaming sink: commit `df` together with a
    * `txn` (appId, txnVersion) action, or skip when the log already
    * records `appId` at `txnVersion` or later (the batch is a replay
    * after a restart). Returns the committed version, or None when
    * skipped. Exactly-once under the optimistic-concurrency loop: two
    * writers racing the same (appId, batch) both stage, one commits, the
    * loser's version-conflict retry re-reads the log, sees the txn, and
    * skips — its staged files are unreferenced and deleted.
    */
  def transactionalAppend(df: DataFrame, tablePath: String, appId: String,
      txnVersion: Long, partitionBy: Seq[String] = Nil): Option[Long] = {
    val spark = df.sparkSession
    val table = new Path(tablePath)
    val f = fs(spark, table)
    var staged: Seq[DeltaLog.AddEntry] = null
    var attempt = 0
    while (true) {
      val exists = f.exists(DeltaLog.logDir(tablePath))
      val snap = if (exists) Some(DeltaLog.snapshot(spark, tablePath)) else None
      snap.foreach(DeltaLog.checkWritable)
      // same append contract as write(SaveMode.Append): a silent
      // mismatched append corrupts every later scan that trusts
      // metaData.schemaString — streaming batches get no exemption
      snap.foreach { s =>
        val canon = (x: org.apache.spark.sql.types.StructType) =>
          x.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
        require(canon(s.schema) == canon(df.schema),
          s"streaming append schema ${df.schema.simpleString} does not " +
            s"match table schema ${s.schema.simpleString} at $tablePath")
      }
      if (snap.exists(_.txns.get(appId).exists(_ >= txnVersion))) {
        // already applied — drop any files staged by a lost race
        if (staged != null) staged.foreach { a =>
          f.delete(new Path(table,
            java.net.URLDecoder.decode(a.path, "UTF-8")), false)
        }
        return None
      }
      if (staged == null) {
        staged = writeDataFiles(df, tablePath,
          snap.map(_.partitionColumns).getOrElse(partitionBy),
          snap.filter(_.columnMappingMode != "none").map(_.schema))
        snap.foreach(s => DeltaConstraints.enforceStaged(
          spark, tablePath, staged, s.schema, s.configuration))
      }
      val actions =
        (if (exists) Seq.empty
         else Seq(createProtocolAction(df.schema),
           metaDataAction(df.schema, partitionBy))) ++
          (txnAction(appId, txnVersion) +: staged.map(addAction))
      try {
        return Some(commit(spark, tablePath, actions, "STREAMING UPDATE",
          snapHint = snap))
      } catch {
        case e: IllegalStateException
            if e.getMessage.contains("concurrent Delta commit conflict") =>
          attempt += 1
          if (attempt > 20) throw e // re-loop: re-check txn, re-claim version
      }
    }
    None // unreachable
  }

  private[sources] def removeAction(path: String): ObjectNode = {
    val n = mapper.createObjectNode()
    n.set[ObjectNode]("remove", mapper.createObjectNode()
      .put("path", path).put("dataChange", true)
      // VACUUM's retention clock counts from DELETION, not file creation
      .put("deletionTimestamp", System.currentTimeMillis()))
    n
  }

  /** Recover `col=value` partition values from a hive-style relative
    * path, as the protocol requires them recorded on every `add`. */
  private def partitionValuesOf(relPath: String): ObjectNode = {
    val pv = mapper.createObjectNode()
    partitionValuesMap(relPath).foreach { case (k, v) => pv.put(k, v) }
    pv
  }

  private def partitionValuesMap(relPath: String): Map[String, String] =
    relPath.split("/").dropRight(1).flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
      case _ => None
    }).toMap

  private def metaDataAction(df: DataFrame, partitionBy: Seq[String]): ObjectNode =
    metaDataAction(df.schema, partitionBy)

  /** `tableId`: the protocol's STABLE table identifier — pass the
    * existing snapshot's id on every metadata update (overwrite, schema
    * widen, constraint change, restore, identity high-water mark);
    * minting a fresh one makes external clients that track identity
    * (e.g. Delta streaming sources) see a "different table". Only table
    * CREATION may omit it. */
  private[sources] def metaDataAction(schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String],
      configuration: Map[String, String] = Map.empty,
      tableId: Option[String] = None): ObjectNode = {
    val n = mapper.createObjectNode()
    val md = mapper.createObjectNode()
      .put("id", tableId.getOrElse(java.util.UUID.randomUUID().toString))
      .put("schemaString", schema.json)
      .put("createdTime", 0L)
    val fmt = mapper.createObjectNode().put("provider", "parquet")
    fmt.set[ObjectNode]("options", mapper.createObjectNode())
    md.set[ObjectNode]("format", fmt)
    val pc = JsonNodeFactory.instance.arrayNode()
    partitionBy.foreach(pc.add)
    md.set[ObjectNode]("partitionColumns", pc)
    val cfg = mapper.createObjectNode()
    configuration.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
    md.set[ObjectNode]("configuration", cfg)
    n.set[ObjectNode]("metaData", md)
    n
  }

  /** True when the type tree stores a TIMESTAMP_NTZ column — the
    * protocol's `timestampNtz` reader+writer feature is then REQUIRED:
    * a reader that does not know the feature would decode the column
    * with session-local semantics instead of refusing the table. */
  /** Table features a schema's TYPES require (protocol: both are
    * reader+writer features, declared whenever the type appears at any
    * nesting depth): `timestampNtz` for TIMESTAMP_NTZ, `variantType`
    * for VARIANT. Spark's parquet writer already lays variant out as
    * the spec's struct<metadata,value> binary pair — the same encoding
    * the Delta feature mandates — so declaring the feature is the whole
    * writer obligation. */
  private[sources] def schemaFeatures(
      dt: org.apache.spark.sql.types.DataType): Set[String] = dt match {
    case org.apache.spark.sql.types.TimestampNTZType => Set("timestampNtz")
    case _: org.apache.spark.sql.types.VariantType => Set("variantType")
    case s: org.apache.spark.sql.types.StructType =>
      s.fields.iterator.flatMap(f => schemaFeatures(f.dataType)).toSet
    case a: org.apache.spark.sql.types.ArrayType =>
      schemaFeatures(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      schemaFeatures(m.keyType) ++ schemaFeatures(m.valueType)
    case _ => Set.empty
  }

  private[sources] def containsNtz(
      dt: org.apache.spark.sql.types.DataType): Boolean =
    schemaFeatures(dt).contains("timestampNtz")

  /** Protocol action for a FRESH table with `schema`: the legacy base
    * (1,2) unless the schema's types require features. */
  private[sources] def createProtocolAction(
      schema: org.apache.spark.sql.types.StructType): ObjectNode = {
    val feats = schemaFeatures(schema).toSeq.sorted
    if (feats.nonEmpty)
      featureProtocolAction(DeltaLog.TableProtocol(1, 2),
        newWriterFeatures = feats, newReaderFeatures = feats)
    // identity-column metadata in the schema demands writer version 6:
    // a legacy foreign writer below it would append without advancing
    // delta.identity.highWaterMark and void the uniqueness guarantee
    else if (schema.fields.exists(
        _.metadata.contains("delta.identity.start")))
      protocolAction(1, 6)
    else protocolAction()
  }

  /** Protocol upgrade needed (if any) when a commit introduces a
    * feature-requiring type (TIMESTAMP_NTZ, VARIANT) into an existing
    * table — overwrite, mergeSchema widening, or ADD COLUMNS. Merges
    * over the current protocol so no recorded feature is dropped. */
  private[sources] def ntzUpgradeAction(
      current: DeltaLog.TableProtocol,
      newSchema: org.apache.spark.sql.types.StructType): Option[ObjectNode] = {
    val need = schemaFeatures(newSchema).toSeq.sorted
      .filterNot(current.readerFeatures.contains)
    if (need.nonEmpty)
      Some(featureProtocolAction(current,
        newWriterFeatures = need, newReaderFeatures = need))
    else None
  }

  private[sources] def protocolAction(): ObjectNode = protocolAction(1, 2)

  private[sources] def protocolAction(minReader: Int, minWriter: Int): ObjectNode = {
    val n = mapper.createObjectNode()
    n.set[ObjectNode]("protocol", mapper.createObjectNode()
      .put("minReaderVersion", minReader).put("minWriterVersion", minWriter))
    n
  }

  /** Upgrade a table's protocol to the writer-features form (writer 7),
    * ADDING `newWriterFeatures` while preserving the existing reader
    * version and both feature lists — enabling in-commit timestamps on
    * a deletion-vector table must not drop `deletionVectors`.
    *
    * READER features implied by a LEGACY reader version are re-listed
    * explicitly: a (2, 5) name-mapped table gaining DVs moves to
    * reader 3, where the protocol honors ONLY the listed features — an
    * upgrade that forgot `columnMapping` would make foreign readers
    * resolve the mapped columns wrong. (Legacy WRITER capabilities —
    * constraints/generation/appendOnly — are not re-listed; this engine
    * enforces them from table properties directly, and they never gate
    * reads.) */
  private[sources] def featureProtocolAction(
      current: DeltaLog.TableProtocol,
      newWriterFeatures: Seq[String],
      newReaderFeatures: Seq[String] = Nil): ObjectNode = {
    val n = mapper.createObjectNode()
    val p = mapper.createObjectNode()
      // a new reader feature forces the table-features reader version
      .put("minReaderVersion",
        if (newReaderFeatures.nonEmpty) math.max(current.minReader, 3)
        else current.minReader)
      .put("minWriterVersion", 7)
    // only when this upgrade actually moves the table to reader 3 —
    // readerFeatures must not exist below reader 3
    val legacyImpliedReader =
      if (newReaderFeatures.nonEmpty && current.minReader >= 2 &&
          current.readerFeatures.isEmpty)
        Seq("columnMapping")
      else Nil
    val allReader = (current.readerFeatures ++ legacyImpliedReader ++
      newReaderFeatures).distinct
    if (allReader.nonEmpty) {
      val rf = JsonNodeFactory.instance.arrayNode()
      allReader.foreach(rf.add)
      p.set[com.fasterxml.jackson.databind.node.ArrayNode]("readerFeatures", rf)
    }
    val wf = JsonNodeFactory.instance.arrayNode()
    // a listed reader feature must appear in the writer list too
    (current.writerFeatures ++ legacyImpliedReader ++ newWriterFeatures)
      .distinct.foreach(wf.add)
    p.set[com.fasterxml.jackson.databind.node.ArrayNode]("writerFeatures", wf)
    n.set[ObjectNode]("protocol", p)
    n
  }

  /** The table-features protocol form (reader 3 / writer 7) a
    * deletion-vector commit must record, per the public protocol —
    * MERGED over the table's current protocol, never a bare
    * replacement (a DV commit on a table that also records
    * columnMapping / inCommitTimestamp must not drop those features). */
  private[sources] def dvProtocolAction(
      current: DeltaLog.TableProtocol): ObjectNode =
    featureProtocolAction(current,
      newWriterFeatures = Seq("deletionVectors"),
      newReaderFeatures = Seq("deletionVectors"))

  /** Highest version claimed by ANY log artifact, plus one. Commit JSONs
    * alone are not enough: after checkpoint() + cleanupLog() the
    * checkpoint parquet (and `_last_checkpoint`) may be the only record
    * of the current version — deriving from JSONs only would re-issue
    * version 0, which snapshot() (bootstrapping from the checkpoint at V
    * and replaying from V+1) silently never replays: data loss. */
  private def nextVersion(f: FileSystem, dir: Path): Long = {
    val names = f.listStatus(dir).map(_.getPath.getName)
    val commitVersions = names.collect {
      case n if n.length == 25 && n.endsWith(".json") &&
        n.dropRight(5).forall(_.isDigit) => n.dropRight(5).toLong
    }
    val checkpointVersions = names.collect {
      // .parquet covers classic/multi-part/v2-parquet; .json is the v2
      // JSON-manifest form — missing it would let a cleaned log with a
      // lost pointer re-issue version 0 (silent data loss)
      case n if n.length >= 20 && n.contains(".checkpoint") &&
        (n.endsWith(".parquet") || n.endsWith(".json")) &&
        n.take(20).forall(_.isDigit) => n.take(20).toLong
    }
    // log-compaction files claim their END version too: the compaction
    // doctrine legitimizes deleting the covered commit JSONs, and a
    // commit re-issued inside a compacted range would be skipped by the
    // replay jump forever — the same silent-loss mode as the checkpoint
    // case above
    val compactedRe = """(\d{20})\.(\d{20})\.compacted\.json""".r
    val compactedEnds = names.collect { case compactedRe(_, e) => e.toLong }
    // _last_checkpoint can outlive its checkpoint file mid-rewrite; read
    // it too so the claimed horizon survives either artifact vanishing.
    val pointerVersion = {
      val lc = new Path(dir, "_last_checkpoint")
      if (f.exists(lc)) {
        val in = f.open(lc)
        try {
          val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
          val node = mapper.readTree(txt)
          Option(node.get("version")).map(_.asLong())
        } catch { case scala.util.control.NonFatal(_) => None }
        finally in.close()
      } else None
    }
    val claimed = commitVersions ++ checkpointVersions ++ compactedEnds ++
      pointerVersion
    if (claimed.isEmpty) 0L else claimed.max + 1
  }
}
