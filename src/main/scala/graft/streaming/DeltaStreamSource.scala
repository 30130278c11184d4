package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftStreamBridge, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import graft.sources.{DeltaCdf, DeltaChanges, DeltaLog}

/** Delta-table Structured Streaming source (`readStream.format
  * ("graft-delta")`) — the real streaming integration of the public
  * Delta protocol on top of [[graft.sources.DeltaChanges]]'s
  * commit-range semantics (the poll-based feed covers incremental
  * BATCH consumers; this class is the `readStream` path, driving the
  * same log through Spark's micro-batch engine with exactly-once
  * offset tracking in the query checkpoint).
  *
  * Offsets are Delta VERSIONS (`LongOffset`): a batch is the files
  * added by commits in `(start, end]`, read as one distributed parquet
  * scan. Version granularity keeps the offset log tiny and replay
  * deterministic — a restarted query re-reads exactly the committed
  * version range. Data-changing removes follow the change-feed
  * contract: fail the query unless `ignoreChanges` / `ignoreDeletes`
  * is set (options, same names as Delta's own source).
  *
  * Scale: getOffset is one log listing; getBatch moves file METADATA
  * only — the data scan is the ordinary distributed parquet read with
  * pushdown/pruning intact. Nothing is buffered on the driver.
  */
class DeltaStreamSource(
    spark: SparkSession,
    tablePath: String,
    ignoreChanges: Boolean,
    ignoreDeletes: Boolean,
    maxVersionsPerTrigger: Option[Long] = None,
    readChangeFeed: Boolean = false,
    maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None) extends Source {

  private val tableSchema: StructType =
    DeltaLog.snapshot(spark, tablePath).schema

  /** CDF mode appends the feed's metadata columns, like Delta's own
    * `readChangeFeed` option. */
  override val schema: StructType =
    if (!readChangeFeed) tableSchema
    else StructType(tableSchema.fields.toSeq :+
      StructField("_change_type", StringType) :+
      StructField("_commit_version", LongType))

  /** High-water mark of versions already handed to the engine, for rate
    * limiting. Seeded by the first getBatch (which carries the recovered
    * checkpoint offsets on restart), so the cap never reverses a
    * committed offset. */
  @volatile private var served: Option[Long] = None

  /** (files, bytes) added by each commit, cached — commits are immutable,
    * so a version's stats never change; entries behind the high-water
    * mark are dropped to keep the cache O(one trigger's walk). */
  private val addStatsCache =
    scala.collection.mutable.Map[Long, (Long, Long)]()

  private def addStats(v: Long): (Long, Long) =
    addStatsCache.getOrElseUpdate(v,
      DeltaChanges.versionAddStats(spark, tablePath, v))

  override def getOffset: Option[Offset] = {
    val latest = DeltaLog.latestVersion(spark, tablePath)
    val capped = served match {
      // Caps apply only once we know where the stream stands; the very
      // first batch (snapshot bootstrap / restart recovery) is served
      // whole regardless — it is one consistent snapshot either way.
      case Some(base) =>
        val vCap = maxVersionsPerTrigger
          .map(max => math.min(latest, base + max)).getOrElse(latest)
        // File/byte caps walk commit metadata version-by-version. The
        // batch ALWAYS advances at least one version when data exists
        // (progress guarantee) and a version never splits across
        // batches — the offset stays version-granular, so restart
        // replay re-reads exactly the committed version range
        // regardless of rate limits (a 100 TB backfill with
        // maxBytesPerTrigger catches up in bounded batches without
        // ever bisecting a commit's exactly-once unit).
        if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) vCap
        else {
          var v = base; var files = 0L; var bytes = 0L; var stop = false
          while (!stop && v < vCap) {
            val (f, b) = addStats(v + 1)
            val over =
              maxFilesPerTrigger.exists(m => files + f > m) ||
                maxBytesPerTrigger.exists(m => bytes + b > m)
            if (over && v > base) stop = true
            else { files += f; bytes += b; v += 1 }
          }
          addStatsCache.filterInPlace { case (k, _) => k > v }
          v
        }
      case None => latest
    }
    served = Some(served.fold(capped)(math.max(_, capped)))
    Some(LongOffset(capped))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = versionOf(end)
    served = Some(served.fold(to)(math.max(_, to)))
    if (readChangeFeed) return changeFeedBatch(start.map(versionOf), to)
    // built at most once per NON-EMPTY batch (the bootstrap needs it
    // anyway; an empty incremental tick — the common sub-second-trigger
    // case — must not pay a full log replay per trigger)
    lazy val snapTo = DeltaLog.snapshot(spark, tablePath, versionAsOf = Some(to))
    val files = start match {
      // Initial batch: serve the CURRENT snapshot's live files (as
      // Delta's own source does), not a replay of every commit from
      // version -1 — on a table whose log was cleaned the early commits
      // no longer exist; after OPTIMIZE+VACUUM replay would reference
      // vacuumed files; and under ignoreChanges replay would re-emit
      // rows that were deleted before the stream started.
      case None => snapTo.files
      case Some(s) =>
        val from = versionOf(s)
        if (to <= from) Nil
        else snapTo.resolve(DeltaChanges.changedFiles(spark, tablePath, from,
          ignoreChanges, ignoreDeletes, toInclusive = Some(to)).addedFiles)
    }
    if (files.isEmpty)
      GraftStreamBridge.streamingFileBatch(spark, schema, None)
    // DV or column-mapped tables must read through the snapshot-aware
    // scan — a raw parquet read would RESURRECT vectored-out rows in
    // the bootstrap batch and resolve a mapped table's physical columns
    // to nulls. The plain path keeps the pushdown-friendly streaming
    // relation (a scan boundary downstream filters can enter).
    else if (snapTo.columnMappingMode == "none" &&
        snapTo.files.forall(_.dv.isEmpty))
      GraftStreamBridge.streamingFileBatch(spark, schema,
        Some(DeltaLog.fileRelation(spark, schema, tablePath, files)))
    else GraftStreamBridge.streamingFromBatch(
      DeltaLog.scanFiles(spark, snapTo, files)
        .select(schema.fieldNames.toIndexedSeq.map(
          org.apache.spark.sql.functions.col): _*))
  }

  /** CDF micro-batch: the initial batch is the snapshot's live rows as
    * `insert`s at the boot version (Delta's own readChangeFeed initial
    * semantics without a startingVersion); subsequent batches are the
    * [[DeltaCdf.changesInRange]] feed for `(start, end]` — cdc change
    * files when the commit wrote them (true pre/post images), the
    * file-action derivation otherwise. The computed frame re-enters the
    * stream through [[GraftStreamBridge.streamingFromBatch]]; its cost
    * is bounded by the rows the range's commits changed. */
  private def changeFeedBatch(start: Option[Long], to: Long): DataFrame = {
    val batch = start match {
      case None =>
        DeltaLog.read(spark, tablePath, versionAsOf = Some(to))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(to))
      case Some(from) if to <= from =>
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      case Some(from) =>
        DeltaCdf.changesInRange(spark, tablePath, from + 1, to, tableSchema)
    }
    GraftStreamBridge.streamingFromBatch(batch)
  }

  /** Offsets come back as [[LongOffset]] live or SerializedOffset from a
    * restarted checkpoint; both carry the version as their JSON. */
  private def versionOf(o: Offset): Long = o.json.trim.toLong

  override def stop(): Unit = ()
}

/** Delta micro-batch SINK (`writeStream.format("graft-delta")`): each
  * batch is one append commit carrying the protocol's `txn` (appId,
  * batchId) action, so a batch replayed after a restart — the engine
  * re-delivers the last uncommitted-at-the-sink batch from its own
  * checkpoint — is detected in the LOG and skipped: exactly-once
  * end-to-end, with the table itself as the idempotence ledger.
  * The appId defaults to the query's checkpoint location (stable across
  * restarts of the same query); override with `txnAppId` when two
  * queries share a checkpoint convention. */
class DeltaStreamSink(
    spark: SparkSession,
    tablePath: String,
    appId: String,
    partitionBy: Seq[String])
  extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = GraftStreamBridge.batchDataFrame(data)
    graft.sources.DeltaWrite.transactionalAppend(
      batch, tablePath, appId, batchId, partitionBy)
  }

  override def toString: String = s"DeltaStreamSink[$tablePath]"
}

/** `format("graft-delta")` registration (short name via the standard
  * META-INF/services entry) — BOTH surfaces of the public API mapping:
  *
  *   - batch: `spark.read.format("graft-delta").load(path)` (options
  *     `versionAsOf` / `timestampAsOf` for time travel) through
  *     [[graft.sources.DeltaBatchRelation]] — pushed filters visible on
  *     the scan node, DV/mapping/skipping underneath; and
  *     `df.write.format("graft-delta").mode(...).save(path)` (option
  *     `partitionBy` comma-separated) through [[DeltaWrite.write]];
  *   - streaming: `readStream`/`writeStream`. Source options: `path`
  *     (required), `ignoreChanges`, `ignoreDeletes`,
  *     `maxVersionsPerTrigger` / `maxFilesPerTrigger` /
  *     `maxBytesPerTrigger` (rate limits after the bootstrap batch;
  *     version-granular — a commit never splits across batches, and at
  *     least one version advances per trigger),
  *     `readChangeFeed` (emit the CDF row-level feed — table columns +
  *     `_change_type` + `_commit_version` — instead of append rows).
  *     Sink options: `path` (required), `txnAppId` (optional —
  *     defaults to the checkpoint location). */
class DeltaSourceProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation =
    new graft.sources.DeltaBatchRelation(sqlContext, path(parameters),
      parameters.get("versionAsOf").map(_.toLong),
      parameters.get("timestampAsOf")
        .map(java.sql.Timestamp.valueOf))

  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    val p = path(parameters)
    graft.sources.DeltaWrite.write(data, p, mode,
      partitionBy = parameters.get("partitionBy").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
    new graft.sources.DeltaBatchRelation(sqlContext, p, None, None)
  }

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required for graft-delta"))

  private def cdfMode(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse {
      val base =
        DeltaLog.snapshot(sqlContext.sparkSession, path(parameters)).schema
      if (!cdfMode(parameters)) base
      else StructType(base.fields.toSeq :+
        StructField("_change_type", StringType) :+
        StructField("_commit_version", LongType))
    })

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new DeltaStreamSource(sqlContext.sparkSession, path(parameters),
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean),
      ignoreDeletes = parameters.get("ignoreDeletes").exists(_.toBoolean),
      maxVersionsPerTrigger =
        parameters.get("maxVersionsPerTrigger").map(_.toLong),
      readChangeFeed = cdfMode(parameters),
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.toLong),
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map(_.toLong))

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-delta sink supports Append output mode only, got $outputMode")
    val appId = parameters.getOrElse("txnAppId",
      parameters.getOrElse("checkpointLocation",
        throw new IllegalArgumentException(
          "graft-delta sink needs txnAppId or a checkpointLocation to " +
            "identify its transaction stream")))
    new DeltaStreamSink(sqlContext.sparkSession, path(parameters), appId,
      partitionColumns)
  }
}
