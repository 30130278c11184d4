package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types._

import graft.{DeltaScanner, DuckDialect, PathResolver, SparkEntry}
import graft.operators.ScdPipeline
import graft.sources.{DeltaDml, DeltaLog, DeltaWrite, JdbcUpsertSink}

/** One operation of a workload's schedule. `name` identifies the distinct
  * operation (its first run in a session is the cold one); `params`
  * carries the seeded inputs. */
final case class OpSpec(name: String, kind: String, params: Map[String, Any] = Map.empty)

/** Shared per-run state handed to every workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val fixtures: String,
    val work: String, val seed: Long, val cpus: Int) {
  val rng = new scala.util.Random(seed)

  /** Catalyst phases of the returned frame: analysis already ran inside
    * the build call (recorded from the frame's own planning tracker),
    * optimization and physical planning are forced here, so execution
    * spans hold execution only. */
  def catalyst(df: DataFrame): Unit = if (tracer.enabled) {
    val qe = df.queryExecution
    tracer.span("catalyst.optimize")(qe.optimizedPlan)
    tracer.span("catalyst.plan")(qe.executedPlan)
    ()
  }

  /** Record the analysis phase of a frame built inside the current span. */
  def analysis(df: DataFrame): Unit = if (tracer.enabled) {
    df.queryExecution.tracker.phases.get("analysis").foreach { p =>
      tracer.addSpan("catalyst.analyze", p.startTimeMs * 1000000L,
        p.endTimeMs * 1000000L)
    }
  }

  /** Log facts at a Delta call: the entries a listing of `_delta_log`
    * returns, and the commits a snapshot replays after the newest
    * checkpoint. Read from the log directory, not from the program. */
  def logFacts(table: String): Unit = if (tracer.enabled) {
    val names = Option(new java.io.File(table, "_delta_log").list()).getOrElse(Array.empty[String])
    val versioned = names.filter(n => n.length > 20 && n.take(20).forall(_.isDigit))
    val commits = versioned.filter(_.endsWith(".json")).map(_.take(20).toLong)
    val cps = versioned.filter(_.contains(".checkpoint")).map(_.take(20).toLong)
    val latest = (commits ++ cps).maxOption.getOrElse(0L)
    val cp = cps.maxOption.getOrElse(-1L)
    tracer.count("deltalog.log_entries_listed", names.length)
    tracer.count("deltalog.commits_replayed", (latest - cp).toDouble)
  }

  /** `PathResolver.resolve` issued as its public calls. */
  def resolve(path: String): DataFrame =
    if (!tracer.enabled) new PathResolver().resolve(spark, path)
    else tracer.span("resolver.resolve") {
      val isDelta = tracer.span("deltalog.is_delta")(DeltaLog.isDeltaTable(spark, path))
      require(isDelta, s"fixture is not a Delta table: $path")
      logFacts(path)
      tracer.span("deltalog.read")(DeltaLog.read(spark, path))
    }
}

trait Workload {
  def name: String
  /** Resolve the fixtures this workload reads (inside the set-up window). */
  def resolve(ctx: Ctx): Unit
  /** Untimed per-run preparation after set-up. */
  def prepare(ctx: Ctx): Unit = ()
  /** The operations of round `round`; the loop orders them. */
  def round(ctx: Ctx, round: Int): Seq[OpSpec]
  /** Untimed work before an operation (input generation). */
  def before(ctx: Ctx, op: OpSpec): OpSpec = op
  /** Runs one operation; false when its own checks failed. */
  def run(ctx: Ctx, op: OpSpec): Boolean
  /** Untimed cleanup after an operation. */
  def after(ctx: Ctx, op: OpSpec): Unit = ()
  /** Untimed, after the loop: artifacts and checks for the output checker. */
  def finish(ctx: Ctx, out: String): Map[String, Any]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "dialect_sql" => new DialectSql
    case "scd_sync" => new ScdSync
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The reference's `query` surface: DuckDB-dialect corpus statements over
  * Delta views, Delta lookups through the `graft-delta` source, and the
  * scanner's stats/schema calls. */
final class DialectSql extends Workload {
  val name = "dialect_sql"

  /** Corpus rows whose Spark side runs `DuckDialect.sql` over the
    * documents view, one per bridged construct: QUALIFY, DISTINCT ON,
    * PIVOT, COLUMNS, ASOF and an ASOF chain (guard probes). Each costs
    * 0.3-1.2 s warm and about 1 s more cold on 4 cores, so the full list
    * of 21 would leave a run without a warm round. */
  val statements: Seq[String] = Seq(
    "q163_duckdb_qualify", "q164_duckdb_distinct_on", "q166_duckdb_pivot",
    "q169_duckdb_columns", "q171_duckdb_asof", "q196_duckdb_asof_chain")
  /** The scanner's stats/schema calls go to one table, so their cost does
    * not depend on the seed (a count of lineitem costs ~15x its schema). */
  private val statsTable = "lineitem"
  private var sql: Map[String, String] = Map.empty
  private var scanner: DeltaScanner = _
  private var lineitemFiles = 0
  private val lastResult = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
  private val lookups = mutable.ArrayBuffer[Map[String, Any]]()
  private val tableCalls = mutable.ArrayBuffer[Map[String, Any]]()

  private def path(ctx: Ctx, t: String) = s"${ctx.fixtures}/delta/$t"

  def resolve(ctx: Ctx): Unit = {
    val oracle = SparkEntry.oracleSql
    sql = statements.map(s => s -> oracle(s)).toMap
    scanner = new DeltaScanner(ctx.spark)
    Seq("documents", statsTable).foreach { t =>
      require(DeltaLog.isDeltaTable(ctx.spark, path(ctx, t)), s"missing fixture $t")
      DeltaLog.latestVersion(ctx.spark, path(ctx, t))
    }
  }

  override def prepare(ctx: Ctx): Unit =
    lineitemFiles = DeltaLog.read(ctx.spark, path(ctx, "lineitem")).inputFiles.length

  /** Per round: the 6 statements, one lookup and one table call (75% /
    * 12.5% / 12.5%). Lookups alternate point and range, table calls
    * alternate stats and schema, from round to round; the seed picks the
    * lookup dates and ranges and the order within a round. */
  def round(ctx: Ctx, r: Int): Seq[OpSpec] = {
    val rng = ctx.rng
    val day0 = java.time.LocalDate.parse("1995-01-02")
    val from = Timestamp.valueOf(day0.plusDays(rng.nextInt(2499).toLong).atStartOfDay())
    val lookup =
      if (r % 2 == 0) Map("from" -> from)
      else Map("from" -> from, "days" -> (7 + rng.nextInt(24)))
    val call = if (r % 2 == 0) "stats" else "schema"
    statements.map(s => OpSpec(s, "statement")) ++ Seq(
      OpSpec("lookup", "lookup", lookup),
      OpSpec("table", "table", Map("call" -> call, "table" -> statsTable)))
  }

  def run(ctx: Ctx, op: OpSpec): Boolean = op.kind match {
    case "statement" => statement(ctx, op.name)
    case "lookup" => lookup(ctx, op)
    case "table" => table(ctx, op)
  }

  private def statement(ctx: Ctx, name: String): Boolean = {
    val tr = ctx.tracer
    val text = sql(name)
    ctx.resolve(path(ctx, "documents")).createOrReplaceTempView("documents")
    if (tr.enabled) tr.span("dialect.rewrite") {
      val rewritten = scala.util.Try(DuckDialect.rewrite(text)).toOption
      tr.count("dialect.statements", 1)
      tr.count("dialect.rewritten", if (rewritten.exists(_ != text)) 1 else 0)
    }
    val df = tr.span("dialect.sql") {
      val d = DuckDialect.sql(ctx.spark, text)
      ctx.analysis(d)
      d
    }
    ctx.catalyst(df)
    val rows = tr.span("exec.collect")(df.collect())
    lastResult(name) = (df.schema, rows)
    true
  }

  private def lookup(ctx: Ctx, op: OpSpec): Boolean = {
    val tr = ctx.tracer
    val p = path(ctx, "lineitem")
    val from = op.params("from").asInstanceOf[Timestamp]
    val until = op.params.get("days").map { d =>
      Timestamp.valueOf(from.toLocalDateTime.plusDays(d.asInstanceOf[Int].toLong))
    }
    val cond: Column = until match {
      case None => col("l_shipdate") === lit(from)
      case Some(u) => col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(u)
    }
    val base =
      if (!tr.enabled) ctx.spark.read.format("graft-delta").load(p).where(cond)
      else {
        // the `graft-delta` relation's own call sequence
        val v = tr.span("deltalog.latest_version") {
          ctx.logFacts(p)
          DeltaLog.latestVersion(ctx.spark, p)
        }
        tr.span("deltalog.snapshot")(DeltaLog.snapshot(ctx.spark, p, Some(v)))
        val d = tr.span("skipping.readwhere")(DeltaLog.readWhere(ctx.spark, p, cond, Some(v)))
        tr.count("skipping.files_kept", d.inputFiles.length)
        tr.count("skipping.files_total", lineitemFiles)
        d
      }
    val df = base.agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"),
      min("l_orderkey").as("kmin"), max("l_orderkey").as("kmax"))
    ctx.catalyst(df)
    val r = tr.span("exec.collect")(df.collect()).head
    def opt(i: Int): Any = if (r.isNullAt(i)) null else r.get(i)
    lookups += Map("from" -> from.toString, "until" -> until.map(_.toString).orNull,
      "n" -> r.getLong(0), "qty" -> opt(1), "kmin" -> opt(2), "kmax" -> opt(3))
    true
  }

  private def table(ctx: Ctx, op: OpSpec): Boolean = {
    val tr = ctx.tracer
    val t = op.params("table").asInstanceOf[String]
    val call = op.params("call").asInstanceOf[String]
    val p = path(ctx, t)
    val value: Any = (call, tr.enabled) match {
      case ("stats", false) => scanner.getTableStats(p)
      case (_, false) => scanner.getTableSchema(p).fieldNames.toSeq
      // DeltaScanner's calls: resolve, then count / schema
      case ("stats", true) =>
        val df = ctx.resolve(p)
        tr.span("exec.count")(df.count())
      case (_, true) => ctx.resolve(p).schema.fieldNames.toSeq
    }
    tableCalls += Map("call" -> call, "table" -> t, "value" -> value)
    true
  }

  def finish(ctx: Ctx, out: String): Map[String, Any] = {
    val results = lastResult.map { case (name, (schema, rows)) =>
      val dir = s"$out/results/$name"
      Session.writeOrdered(ctx.spark.createDataFrame(rows.toSeq.asJava, schema), dir)
      name -> Map("dir" -> dir, "oracle" -> sql(name), "rows" -> rows.length)
    }.toMap
    Map("statements" -> results, "lookups" -> lookups.toSeq,
      "table_calls" -> tableCalls.toSeq)
  }
}

/** The reference's second flow: an upstream MERGE into a long-log Delta
  * source, then an SCD Type 2 sync into a Delta target and a JDBC upsert
  * of the closed and inserted rows into in-memory Derby. */
final class ScdSync extends Workload {
  val name = "scd_sync"
  private val keys = Seq("c_custkey")
  private val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  private val schema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val table = "SCD_CUSTOMER"
  private val baseTime = Timestamp.valueOf("2030-01-01 00:00:00").getTime
  private var url = ""
  private var nBase = 0L
  private var baseKeys = Vector.empty[Long]
  private var batch = 0
  private var rowsChanged = 0L
  private var newKeys = 0L
  private var bytesAtStart = 0L
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()

  private def src(ctx: Ctx) = s"${ctx.work}/scd/customer"
  private def tgt(ctx: Ctx) = s"${ctx.work}/scd/customer_scd"

  def resolve(ctx: Ctx): Unit = Seq(src(ctx), tgt(ctx)).foreach { p =>
    require(DeltaLog.isDeltaTable(ctx.spark, p), s"missing fixture $p")
    DeltaLog.latestVersion(ctx.spark, p)
  }

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  /** Files under a table: path -> (data | log | checkpoint, bytes). */
  private def tableFiles(table: String): Map[String, (String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(table)).map { f =>
      val kind =
        if (f.getName.contains(".checkpoint")) "checkpoint"
        else if (f.getParentFile.getName == "_delta_log") "log"
        else "data"
      f.getPath -> (kind, f.length)
    }.toMap
  }

  /** Derby holds the target as of the fixture; loaded untimed. */
  override def prepare(ctx: Ctx): Unit = {
    url = s"jdbc:derby:memory:perfbench_${ProcessHandle.current().pid()};create=true"
    val target = DeltaLog.read(ctx.spark, tgt(ctx))
    val all = target.collect()
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        s"CREATE TABLE $table (c_custkey BIGINT, c_name VARCHAR(64), " +
          "c_nationkey INT, c_acctbal DOUBLE, c_mktsegment VARCHAR(16), " +
          "scd_id BIGINT PRIMARY KEY, effective_date TIMESTAMP, end_date TIMESTAMP, " +
          "is_current BOOLEAN, created_at TIMESTAMP, updated_at TIMESTAMP)")
      val names = target.columns
      val ps = conn.prepareStatement(s"INSERT INTO $table (${names.mkString(", ")}) " +
        s"VALUES (${names.map(_ => "?").mkString(", ")})")
      all.grouped(1000).foreach { g =>
        g.foreach { r =>
          names.indices.foreach(i => ps.setObject(i + 1, r.get(i).asInstanceOf[AnyRef]))
          ps.addBatch()
        }
        ps.executeBatch()
      }
      ps.close()
    } finally conn.close()
    baseKeys = all.filter(_.getAs[Boolean]("is_current"))
      .map(_.getAs[Long]("c_custkey")).sorted.toVector
    nBase = baseKeys.size.toLong
    bytesAtStart = dirBytes(src(ctx)) + dirBytes(tgt(ctx))
  }

  def round(ctx: Ctx, r: Int): Seq[OpSpec] = Seq(OpSpec("scd.batch", "batch"))

  /** The seeded change set: ~2% of the fixture's keys get new values
    * (the name always changes, so every picked key is a real change),
    * plus five new keys. */
  override def before(ctx: Ctx, op: OpSpec): OpSpec = {
    val rng = ctx.rng
    batch += 1
    val changed = rng.shuffle(baseKeys).take((nBase / 50).toInt).sorted
    val fresh = (0 until 5).map(i => 10000000L + batch * 10L + i)
    val rows = (changed ++ fresh).map { k =>
      Row(k, f"Customer#$k%09d-b$batch", rng.nextInt(25),
        math.round(rng.nextDouble() * 1099998 - 99999) / 100.0,
        segments(rng.nextInt(segments.size)))
    }
    op.copy(params = Map("rows" -> rows, "changed" -> changed.size.toLong,
      "fresh" -> fresh.size.toLong, "now" -> new Timestamp(baseTime + batch * 1000L)))
  }

  def run(ctx: Ctx, op: OpSpec): Boolean = {
    val tr = ctx.tracer
    val spark = ctx.spark
    val nChanged = op.params("changed").asInstanceOf[Long]
    val nFresh = op.params("fresh").asInstanceOf[Long]
    val now = op.params("now").asInstanceOf[Timestamp]
    val changes = spark.createDataFrame(
      op.params("rows").asInstanceOf[Seq[Row]].asJava, schema)

    val tables = Seq(src(ctx), tgt(ctx))
    val filesBefore = if (tr.enabled) tables.map(tableFiles) else Nil
    // 1. upstream change lands on the source
    val merged = tr.span("deltadml.merge") {
      if (tr.enabled) ctx.logFacts(src(ctx))
      DeltaDml.merge(spark, src(ctx), changes,
        col("t.c_custkey") === col("s.c_custkey"),
        matchedUpdate = cols.map(c => c -> col(s"s.$c")), insert = true)
    }
    // 2. read the source at its latest version
    val v = tr.span("deltalog.latest_version") {
      if (tr.enabled) ctx.logFacts(src(ctx))
      DeltaLog.latestVersion(spark, src(ctx))
    }
    val source = tr.span("deltalog.read")(DeltaLog.read(spark, src(ctx), Some(v)))
    // 3. SCD sync against the Delta target
    val target = tr.span("deltalog.read") {
      if (tr.enabled) ctx.logFacts(tgt(ctx))
      DeltaLog.read(spark, tgt(ctx))
    }
    val (next, summary) = tr.span("scd.sync")(
      ScdPipeline.sync(target, source, keys, now = now))
    // 4. commit the new target
    tr.span("deltawrite.commit")(DeltaWrite.write(next, tgt(ctx), SaveMode.Overwrite))
    // 5. closed and inserted rows into Derby, through one connection:
    // Derby 10.16's embedded MERGE fails now and then when several
    // connections run it at once (NPEs inside Derby, a spurious duplicate
    // key), which a PostgreSQL target would not
    val touched = tr.span("deltalog.read")(DeltaLog.read(spark, tgt(ctx)))
      .where(col("updated_at") === lit(now))
    val sent = 2 * nChanged + nFresh
    val acked = tr.span("jdbc.upsert") {
      val before = ConnCounter.n.get
      val a = JdbcUpsertSink.write(touched.coalesce(1),
        new ConnCounter(new JdbcUpsertSink.JdbcConnectionFactory(url, Map.empty)),
        table, Seq("scd_id"), dialect = JdbcUpsertSink.DerbyMergeDialect)
      tr.count("jdbc.connections", (ConnCounter.n.get - before).toDouble)
      tr.count("jdbc.rows_sent", sent.toDouble)
      tr.count("jdbc.rows_acked", a.toDouble)
      a
    }
    if (tr.enabled) {
      // files this batch added under both tables: data, commits, checkpoints
      val added = tables.map(tableFiles).zip(filesBefore)
        .flatMap { case (after, before) => after.keySet.diff(before.keySet).toSeq.map(after) }
      tr.count("deltawrite.files_written", added.count(_._1 == "data").toDouble)
      tr.count("deltawrite.checkpoints", added.count(_._1 == "checkpoint").toDouble)
      tr.count("deltawrite.bytes_written", added.map(_._2).sum.toDouble)
    }
    tr.count("scd.rows_changed", (nChanged + nFresh).toDouble)
    rowsChanged += nChanged + nFresh
    newKeys += nFresh
    val ok = merged.updatedRows == nChanged && merged.insertedRows == nFresh &&
      summary.closedChanged == nChanged && summary.insertedNew == nChanged + nFresh &&
      summary.unchanged == nBase + newKeys - nFresh - nChanged && acked == sent
    if (!ok) checks += Map("check" -> s"batch $batch counts", "ok" -> false,
      "detail" -> s"merge=$merged summary=$summary acked=$acked sent=$sent")
    ok
  }

  def finish(ctx: Ctx, out: String): Map[String, Any] = {
    val spark = ctx.spark
    val target = DeltaLog.read(spark, tgt(ctx))
    val current = target.where(col("is_current"))
    val dupKeys = current.groupBy(keys.map(col): _*).count().where(col("count") > 1).count()
    val nCurrent = current.count()
    val dupIds = target.groupBy("scd_id").count().where(col("count") > 1).count()
    def key(r: Row): String = (0 until r.length).map(r.get).mkString("|")
    val fields = cols :+ "scd_id"
    val deltaSet = current.select(fields.map(col): _*).collect().map(key).toSet
    val conn = java.sql.DriverManager.getConnection(url)
    val derbySet = try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT ${fields.mkString(", ")} FROM $table WHERE is_current")
      val b = mutable.Set[String]()
      while (rs.next()) b += fields.indices.map(i => rs.getObject(i + 1)).mkString("|")
      b.toSet
    } finally conn.close()
    val bytesAdded = dirBytes(src(ctx)) + dirBytes(tgt(ctx)) - bytesAtStart
    checks ++= Seq(
      Map("check" -> "scd_id unique", "ok" -> (dupIds == 0L),
        "detail" -> s"$dupIds scd_id values on more than one row"),
      Map("check" -> "one current row per key", "ok" -> (dupKeys == 0L),
        "detail" -> s"$dupKeys keys with more than one current row"),
      Map("check" -> "current rows = fixture keys + new keys",
        "ok" -> (nCurrent == nBase + newKeys), "detail" -> s"$nCurrent vs ${nBase + newKeys}"),
      Map("check" -> "Derby current rows = target current rows",
        "ok" -> (deltaSet == derbySet),
        "detail" -> (s"delta ${deltaSet.size}, derby ${derbySet.size}, differing " +
          s"${(deltaSet diff derbySet).size + (derbySet diff deltaSet).size}")))
    scala.util.Try(java.sql.DriverManager.getConnection(
      url.replace(";create=true", ";drop=true")))
    Map("checks" -> checks.toSeq, "rows_changed" -> rowsChanged,
      "bytes_added" -> bytesAdded)
  }
}

/** Counts JDBC connections opened by the sink's tasks (local mode: one
  * JVM, so a static counter sees every task). */
final class ConnCounter(inner: JdbcUpsertSink.UpsertConnectionFactory)
    extends JdbcUpsertSink.UpsertConnectionFactory {
  override def connect(): JdbcUpsertSink.UpsertConnection = {
    ConnCounter.n.incrementAndGet()
    inner.connect()
  }
}

object ConnCounter {
  val n = new java.util.concurrent.atomic.AtomicInteger
}
