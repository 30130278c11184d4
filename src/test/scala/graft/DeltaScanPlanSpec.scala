package graft

import java.nio.file.Files
import java.time.LocalDateTime
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaLog, DeltaWrite}

/** Delta scans planned from the log: building a read launches no Spark
  * job and makes no per-file file-system call, the files it plans are the
  * snapshot's, and what the log says about a file is checked where the
  * file is opened — a missing file or a wrong `size` fails loudly instead
  * of dropping rows. Also the timestamp skipping stats: written at
  * millisecond precision, and widened on read so truncated maxima from
  * any writer never skip a matching row. */
class DeltaScanPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-scan-plan-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration
      .set("fs.scanfs.impl", classOf[ScanCountingFs].getName)
    s
  }

  private def tmpTable(): String =
    Files.createTempDirectory("graft-scanplan").resolve("t").toString

  /** Jobs the calling thread launches inside `body` (the tagging and
    * listener-bus flush of DeltaSnapshotCacheSpec). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.test.tag")) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(s) if s == s"$tag-sentinel" => done.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.tag", tag)
      val a = body
      sc.setLocalProperty("graft.test.tag", s"$tag-sentinel")
      spark.range(1).count()
      assert(done.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (a, jobs.get)
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  /** (result, jobs, data-file getFileStatus/listStatus calls) of `body`. */
  private def costOf[A](body: => A): (A, Int, Int) = {
    ScanCountingFs.dataCalls.set(0)
    val (a, jobs) = jobsDuring(body)
    (a, jobs, ScanCountingFs.dataCalls.get)
  }

  /** A 64-file table, range-clustered on `id` (100 rows per file). */
  private lazy val wide: String = {
    val t = tmpTable()
    DeltaWrite.write(spark.range(0, 6400).repartitionByRange(64, col("id"))
      .select(col("id"), (col("id") % 7).cast(IntegerType).as("k")), t)
    assert(DeltaLog.snapshot(spark, t).files.size == 64)
    t
  }

  private def qualified(t: String, rel: String): String = {
    val p = new Path(t, rel)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
  }

  test("building read, readWhere and schema on a 64-file table launches " +
    "no job and makes no data-file status call") {
    val ct = s"scanfs://$wide"
    DeltaLog.snapshot(spark, ct) // the log replay is not what is measured

    val (df, readJobs, readCalls) = costOf(DeltaLog.read(spark, ct))
    assert(readJobs == 0, s"building DeltaLog.read launched $readJobs jobs")
    assert(readCalls == 0, s"building DeltaLog.read made $readCalls data-file calls")

    val (pruned, whereJobs, whereCalls) =
      costOf(DeltaLog.readWhere(spark, ct, col("id") === 4242))
    assert(whereJobs == 0, s"building readWhere (skipping) launched $whereJobs jobs")
    assert(whereCalls == 0, s"building readWhere made $whereCalls data-file calls")
    assert(pruned.inputFiles.length == 1, "stats skipping keeps the one file")

    val (schema, schemaJobs, schemaCalls) = costOf(DeltaLog.read(spark, ct).schema)
    assert(schema.fieldNames.toSeq == Seq("id", "k"))
    assert(schemaJobs == 0 && schemaCalls == 0,
      s"schema: $schemaJobs jobs, $schemaCalls data-file calls")

    val (lookup, lookupJobs, lookupCalls) = costOf(
      spark.read.format("graft-delta").load(ct).where(col("id") === 4242)
        .queryExecution.executedPlan)
    assert(lookup != null && lookupJobs == 0 && lookupCalls == 0,
      s"planning a graft-delta lookup: $lookupJobs jobs, $lookupCalls data-file calls")

    // control: the counter sees the reading tasks' size checks
    val (rows, _, execCalls) = costOf(df.count())
    assert(rows == 6400)
    assert(execCalls >= 64, s"control: execution made $execCalls data-file calls")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(4242L))
  }

  test("inputFiles are exactly the snapshot's files") {
    val snap = DeltaLog.snapshot(spark, wide)
    assert(DeltaLog.read(spark, wide).inputFiles
      .map(f => new Path(new java.net.URI(f)).toString).toSet ==
      snap.files.map(a => qualified(wide, a.path)).toSet)
  }

  test("a deleted data file fails the read at execution, naming the file") {
    val t = tmpTable()
    DeltaWrite.write(spark.range(0, 400).repartition(4).toDF("id"), t)
    val df = DeltaLog.read(spark, t)
    val victim = DeltaLog.snapshot(spark, t).files.head.path
    assert(new java.io.File(t, victim).delete())
    val e = intercept[Exception](df.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(String.valueOf(_)).mkString("\n")
    assert(chain.contains(victim), s"error does not name $victim:\n$chain")
  }

  test("DML and deletion vectors on a table whose path has a space") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft scanplan")
    val cow = base.resolve("cow t").toString
    DeltaWrite.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), cow)
    graft.sources.DeltaDml.update(spark, cow, col("id") === 1, Seq("s" -> lit("X")))
    assert(DeltaLog.read(spark, cow).as[(Int, String)].collect().toSet ==
      Set((1, "X"), (2, "b")))
    val mor = base.resolve("dv t").toString
    DeltaWrite.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s").coalesce(1), mor)
    graft.sources.DeltaMaintenance.setTblProperties(spark, mor,
      Map("delta.enableDeletionVectors" -> "true"))
    graft.sources.DeltaDml.delete(spark, mor, col("id") === 2)
    assert(DeltaLog.snapshot(spark, mor).files.exists(_.dv.isDefined),
      "control: the delete wrote a deletion vector")
    assert(DeltaLog.read(spark, mor).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (3, "c")))
  }

  /** A table whose log is written by hand: one parquet file of `df`
    * (physical names = logical names) recorded with `size` and `stats`. */
  private def handLogged(df: DataFrame, size: Long => Long,
      stats: Option[String] = None): (String, Long) = {
    val t = tmpTable()
    df.coalesce(1).write.parquet(t)
    val dir = new java.io.File(t)
    val part = dir.listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).head
    val real = new java.io.File(dir, part).length()
    val log = new java.io.File(dir, "_delta_log")
    assert(log.mkdirs())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val add = mapper.createObjectNode().put("path", part)
      .put("size", size(real)).put("modificationTime", 0L)
      .put("dataChange", true)
    add.putObject("partitionValues")
    stats.foreach(add.put("stats", _))
    val lines = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"hand","schemaString":${mapper.writeValueAsString(df.schema.json)},"partitionColumns":[],"configuration":{},"format":{"provider":"parquet","options":{}}}}""",
      s"""{"add":${mapper.writeValueAsString(add)}}""")
    java.nio.file.Files.write(new java.io.File(log, f"${0L}%020d.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    (t, real)
  }

  test("a wrong log size: an unsplit file reads every row, a split one throws") {
    val df = spark.range(0, 20000).select(col("id"), (col("id") * 3).as("v"))
    val (small, _) = handLogged(df, _ => 1L)
    assert(DeltaLog.read(spark, small).count() == 20000)
    assert(DeltaLog.read(spark, small).agg(expr("sum(v)")).head.getLong(0) ==
      (0L until 20000L).map(_ * 3).sum)

    val (big, real) = handLogged(df, r => r * 2)
    assert(real > 8192, s"fixture file too small to split: $real bytes")
    val maxBytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try {
      val e = intercept[Exception](DeltaLog.read(spark, big).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(String.valueOf(_)).mkString("\n")
      assert(chain.contains(s"records size ${real * 2}") &&
        chain.contains(s"has $real bytes"), chain)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", maxBytes)
  }

  test("a truncated timestamp max from a foreign writer does not skip the row") {
    val at = LocalDateTime.parse("2024-01-02T03:04:05.123456")
    val rows = java.util.Arrays.asList(Row(1, LocalDateTime.parse("2024-01-02T03:04:05.100")),
      Row(2, at))
    val df = spark.createDataFrame(rows, StructType(Seq(
      StructField("id", IntegerType), StructField("ts", TimestampNTZType))))
    // what delta-spark records: millisecond stats, truncated
    val stats = """{"numRecords":2,"minValues":{"id":1,"ts":"2024-01-02T03:04:05.100"},""" +
      """"maxValues":{"id":2,"ts":"2024-01-02T03:04:05.123"},"nullCount":{"id":0,"ts":0}}"""
    val (t, _) = handLogged(df, identity, Some(stats))
    val cond = col("ts") >= lit(LocalDateTime.parse("2024-01-02T03:04:05.1234"))
    assert(DeltaLog.readWhere(spark, t, cond).collect().map(_.getInt(0)).toSeq == Seq(2))
    // the range still prunes: past the widened max, nothing is kept
    val after = col("ts") > lit(LocalDateTime.parse("2024-01-02T03:04:05.125"))
    assert(DeltaLog.readWhere(spark, t, after).inputFiles.isEmpty)
  }

  test("timestamp_ntz stats are written; a point lookup on a 64-file " +
    "clustered table keeps at most 2 files and equals an unpruned read") {
    val t = tmpTable()
    // one row per ~1.000123 s, with microsecond fractions
    val df = spark.range(0, 6400).select(col("id"),
      expr("timestamp_ntz'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, id * 1.000123)")
        .as("ts"))
      .repartitionByRange(64, col("ts"))
    DeltaWrite.write(df, t)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.size == 64)
    assert(snap.files.forall(_.stats.exists(s =>
      s.contains("\"ts\":\"2024-") && !s.contains("Z\""))),
      s"no timestamp_ntz min/max in ${snap.files.head.stats}")
    val probe = DeltaLog.read(spark, t).where(col("id") === 3201)
      .select("ts").head.get(0).asInstanceOf[LocalDateTime]
    assert(probe.getNano % 1000000 != 0, "control: the probe has sub-ms digits")
    val cond = col("ts") === lit(probe)
    val pruned = DeltaLog.readWhere(spark, t, cond)
    assert(pruned.inputFiles.length <= 2,
      s"kept ${pruned.inputFiles.length} of 64 files")
    val unpruned = DeltaLog.read(spark, t).where(cond)
    assert(pruned.collect().toSet == unpruned.collect().toSet)
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(3201L))
  }

  test("add actions record each data file's real mtime; the scan and " +
    "checkpoints carry it") {
    val t = tmpTable()
    DeltaWrite.write(spark.range(0, 300).repartition(3).toDF("id"), t)
    val snap = DeltaLog.snapshot(spark, t)
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val real = snap.files.map(a =>
      qualified(t, a.path) -> fs.getFileStatus(new Path(t, a.path)).getModificationTime).toMap
    assert(snap.files.forall(_.modificationTime > 0L))
    assert(snap.files.map(a => qualified(t, a.path) -> a.modificationTime).toMap == real)
    val scanned = spark.baseRelationToDataFrame(
        DeltaLog.fileRelation(spark, snap.schema, t, snap.files))
      .select(col("_metadata.file_path"), col("_metadata.file_modification_time"))
      .distinct().collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).getTime).toMap
    assert(scanned == real)
    DeltaWrite.checkpoint(spark, t)
    assert(DeltaLog.replayUncached(spark, t).files.map(_.modificationTime).toSet ==
      real.values.toSet)
  }
}

/** The local file system under the `scanfs` scheme: [[CountingLocalFs]]
  * plus a count of `getFileStatus` calls on data files and of
  * `listStatus` calls outside `_delta_log`. */
class ScanCountingFs extends CountingLocalFs {
  override def getUri: java.net.URI = java.net.URI.create("scanfs:///")
  override def getScheme: String = "scanfs"
  private def inLog(f: Path): Boolean =
    Iterator.iterate(f)(_.getParent).takeWhile(_ != null)
      .exists(_.getName == "_delta_log")
  override def getFileStatus(f: Path): FileStatus = {
    if (f.getName.endsWith(".parquet") && !inLog(f))
      ScanCountingFs.dataCalls.incrementAndGet()
    super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    if (!inLog(f)) ScanCountingFs.dataCalls.incrementAndGet()
    super.listStatus(f)
  }
}

object ScanCountingFs {
  val dataCalls = new AtomicInteger
}
