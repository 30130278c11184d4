package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Batch read relation behind `spark.read.format("graft-delta")` — the
  * V1 `PrunedFilteredScan` surface (the same integration style Spark's
  * JDBC source uses), so the physical plan is a `RowDataSourceScanExec`
  * that DISPLAYS the pushed filters, and everything this engine's Delta
  * reader does — log replay, time travel, deletion-vector anti-join,
  * column-mapping resolution, stats/partition file skipping — rides
  * underneath unchanged:
  *
  *   - `requiredColumns` prunes the projection before the scan plan is
  *     built (mapped tables prune PHYSICAL columns, since the logical
  *     projection happens inside [[DeltaLog.scanFiles]]);
  *   - translatable `filters` become the [[DeltaLog.readWhere]]
  *     condition, which skips whole FILES on add.stats ranges and
  *     partition values before Spark's own parquet row-group pushdown
  *     sees the survivors;
  *   - untranslatable filters are reported via `unhandledFilters`, so
  *     Spark re-applies them above the scan (never dropped).
  *
  * The SNAPSHOT is pinned at relation construction (analysis time),
  * like Delta's own DataFrame reads: a concurrent commit between
  * planning and execution cannot tear the row set, and the schema and
  * every scan come from that one replay — a read lists the log once.
  * Planning launches no Spark job: skipping runs on the driver over a
  * local relation, and the kept files' sizes and mtimes come from their
  * `add` entries, not from the file system ([[DeltaFileIndex]]). A
  * lookup's only job is the query itself.
  *
  * Reference surface: `delta_scan('<path>')` through DuckDB
  * (delta-unity-duckdb.js:330) — here the format string is the
  * equivalent public entry point.
  */
final class DeltaBatchRelation(
    override val sqlContext: SQLContext,
    tablePath: String,
    versionAsOf: Option[Long],
    timestampAsOf: Option[java.sql.Timestamp])
    extends BaseRelation with PrunedFilteredScan {

  private val spark = sqlContext.sparkSession

  /** Pinned snapshot: explicit AS OF, else the latest at creation. */
  private val snap: DeltaLog.Snapshot = DeltaLog.snapshot(spark, tablePath,
    versionAsOf.orElse(timestampAsOf.map(DeltaLog.versionAt(spark, tablePath, _))))

  override val schema: StructType = snap.schema

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(translate(_).isEmpty)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val condition = filters.flatMap(translate)
      .reduceOption(_ && _).getOrElse(lit(true))
    val df = DeltaLog.readWhere(spark, snap, condition)
    // empty projection (e.g. COUNT(*)) still needs a row per input row
    val projected =
      if (requiredColumns.isEmpty) df.select()
      else df.select(requiredColumns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    projected.rdd
  }

  /** `sources.Filter` → `Column`; None marks the filter unhandled (the
    * conservative direction — Spark re-applies it above the scan). */
  private def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(s"`$a`") === lit(v))
    case EqualNullSafe(a, v) => Some(col(s"`$a`") <=> lit(v))
    case GreaterThan(a, v) => Some(col(s"`$a`") > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(s"`$a`") >= lit(v))
    case LessThan(a, v) => Some(col(s"`$a`") < lit(v))
    case LessThanOrEqual(a, v) => Some(col(s"`$a`") <= lit(v))
    case In(a, vs) => Some(col(s"`$a`").isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(s"`$a`").isNull)
    case IsNotNull(a) => Some(col(s"`$a`").isNotNull)
    case StringStartsWith(a, v) => Some(col(s"`$a`").startsWith(v))
    case StringEndsWith(a, v) => Some(col(s"`$a`").endsWith(v))
    case StringContains(a, v) => Some(col(s"`$a`").contains(v))
    case And(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case Or(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case Not(c) => translate(c).map(not)
    case _ => None
  }

  override def toString: String = s"GraftDelta[$tablePath@v${snap.version}]"
}
