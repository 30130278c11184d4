package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.ScdPipeline
import graft.sources.{DeltaLog, DeltaMaintenance, DeltaWrite}

/** Builds the Delta fixtures from the generated parquet tables, once per
  * fixture set:
  *
  * {{{
  * Prepare <fixtures dir> <work dir>
  * }}}
  *
  *   - `delta/documents`: a short log (2 commits);
  *   - `delta/lineitem`: one commit, range-clustered on `l_shipdate` into
  *     64 files, so `readWhere` can skip files;
  *   - `scd/customer`: the SCD source with a long log — the customer table,
  *     `delta.checkpointInterval` = 100, 388 small appends and then a
  *     compaction (so a snapshot lists ~780 log entries and replays the
  *     checkpoint at version 300 plus 90 commits over one data file; the
  *     batches of a run stay below the next checkpoint at 400). Each
  *     append costs ~0.5 s on 4 cores, which is what keeps the log this
  *     short;
  *   - `scd/customer_scd`: the SCD Type 2 target after a first full sync.
  */
object Prepare {
  val Appends = 388 // versions 2..389; the compaction is version 390

  def main(args: Array[String]): Unit = {
    val Array(fixtures, work) = args
    val spark = Session.build(Runtime.getRuntime.availableProcessors, work)
    val tables = s"$fixtures/tables"
    def load(t: String): DataFrame = Tables.load(spark, tables, t)
    val docs = load("documents")
    val mid = docs.agg(org.apache.spark.sql.functions.max("doc_id")).head.getLong(0) / 2
    DeltaWrite.write(docs.where(col("doc_id") <= mid), s"$fixtures/delta/documents")
    DeltaWrite.write(docs.where(col("doc_id") > mid), s"$fixtures/delta/documents",
      SaveMode.Append)
    DeltaWrite.write(load("lineitem").repartitionByRange(64, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate"), s"$fixtures/delta/lineitem")

    val src = s"$fixtures/scd/customer"
    val customers = load("customer")
    DeltaWrite.write(customers.repartitionByRange(8, col("c_custkey")), src)
    DeltaMaintenance.setTblProperties(spark, src, Map("delta.checkpointInterval" -> "100"))
    var next = 1000000L
    def append(): Unit = {
      val rows = customers.where(col("c_custkey") < 3)
        .withColumn("c_custkey", col("c_custkey") + next)
      DeltaWrite.write(rows.coalesce(1), src, SaveMode.Append)
      next += 3
    }
    (1 to Appends).foreach(_ => append())
    DeltaMaintenance.compact(spark, src)
    require(DeltaLog.snapshot(spark, src).files.nonEmpty)

    val source = DeltaLog.read(spark, src)
    val (target, _) = ScdPipeline.sync(ScdPipeline.emptyTarget(source), source,
      Seq("c_custkey"), now = Timestamp.valueOf("2029-12-31 00:00:00"))
    DeltaWrite.write(target, s"$fixtures/scd/customer_scd")
    spark.stop()
  }
}
