package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, not, when}

/** Copy-on-write UPDATE / DELETE over [[DeltaLog]] tables — the DML the
  * reference REPL dispatches to its engine (query_sync_table.py:123-125)
  * and the Tier B rows VERDICT r01 flagged as missing.
  *
  * Semantics are Delta's own: identify the data files that contain at
  * least one matching row (a distributed scan collecting FILE NAMES only
  * — bounded by the file count, which is metadata-scale), rewrite just
  * those files with the change applied, and commit `remove`+`add`
  * actions for them in one atomic log entry. Untouched files are never
  * read twice or rewritten, which is what keeps a 100 TB point-update
  * proportional to the files it hits, not to the table.
  */
object DeltaDml {

  final case class DmlResult(version: Long, rewrittenFiles: Int, affectedRows: Long)

  def delete(spark: SparkSession, tablePath: String, condition: Column): DmlResult = {
    val snap0 = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkAppendOnly(snap0, "DELETE")
    // delta.enableDeletionVectors=true switches DELETE to merge-on-read
    // (positions to a sidecar, no data rewrite) — see [[DeltaDv]].
    if (DeltaDv.enabled(snap0.configuration))
      DeltaDv.delete(spark, tablePath, condition)
    else rewrite(spark, tablePath, condition, df => df.filter(not(condition)),
      operation = "DELETE", snapHint = Some(snap0),
      cdcOf = hit => hit.filter(condition)
        .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete")))
  }

  /** `assignments`: column name → new-value expression, applied only to
    * rows matching `condition` (other rows in hit files pass through).
    *
    * SQL UPDATE semantics: the WHERE condition AND every SET expression
    * evaluate against the OLD row — one `select` projects all columns at
    * once (a sequential `withColumn` fold would re-resolve the condition
    * and later values against already-updated columns, so
    * `SET status='done' WHERE status='pending'` would un-match its own
    * rows and `SET a=b, b=a` would not swap). */
  def update(spark: SparkSession, tablePath: String, condition: Column,
      assignments: Seq[(String, Column)]): DmlResult = {
    val snap0 = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkAppendOnly(snap0, "UPDATE")
    if (DeltaDv.enabled(snap0.configuration))
      return DeltaDv.update(spark, tablePath, condition, assignments)
    val byName = assignments.toMap
    // Generated columns not explicitly assigned are RECOMPUTED on the
    // hit rows from their recorded expression, evaluated AFTER the
    // assignments (Delta's own UPDATE semantics — otherwise every
    // update of a base column would be vetoed by the staged-file
    // generation check as stale).
    val gen = DeltaGenerated.generationExprs(snap0.schema)
      .filterNot { case (c, _) => byName.contains(c) }
    def applied(df: DataFrame): DataFrame = {
      // condition must see PRE-assignment values — mark hits first
      val marked = df.withColumn("__hit", condition)
      val assigned = marked.select(df.columns.toIndexedSeq.map { c =>
        byName.get(c) match {
          case Some(v) => when(col("__hit"), v).otherwise(col(c)).as(c)
          case None => col(c)
        }
      } :+ col("__hit"): _*)
      gen.foldLeft(assigned) { case (d, (c, e)) =>
        val dt = snap0.schema.fields.find(_.name == c).get.dataType
        d.withColumn(c,
          when(col("__hit"), org.apache.spark.sql.functions.expr(e).cast(dt))
            .otherwise(col(c)))
      }.drop("__hit")
    }
    rewrite(spark, tablePath, condition, applied, operation = "UPDATE",
      snapHint = Some(snap0),
      cdcOf = { hit =>
        import org.apache.spark.sql.functions.lit
        val matched = hit.filter(condition)
        matched.withColumn("_change_type", lit("update_preimage"))
          .unionByName(applied(matched)
            .withColumn("_change_type", lit("update_postimage")))
      })
  }

  /** `cdcOf`: builds the commit's change-file rows (table columns +
    * `_change_type`) from the hit-file frame; materialized only when the
    * table has [[DeltaCdf.Property]] enabled. */
  private def rewrite(spark: SparkSession, tablePath: String, condition: Column,
      transform: DataFrame => DataFrame, operation: String,
      cdcOf: DataFrame => DataFrame,
      snapHint: Option[DeltaLog.Snapshot] = None): DmlResult = {
    // reuse the caller's snapshot: a second full log replay per
    // statement doubles the driver's log RPCs AND opens a TOCTOU window
    // where the appendOnly/DV decision was made against different state
    // than the one rewritten
    val snap = snapHint.getOrElse(DeltaLog.snapshot(spark, tablePath))
    DeltaLog.checkWritable(snap)

    val hitUris =
      if (snap.files.isEmpty) Array.empty[String]
      else DeltaLog.scanFilesWithMeta(spark, snap, snap.files)
        .filter(condition).select(col("__file"))
        .distinct().collect().map(_.getString(0)) // file names only: metadata-scale
    if (hitUris.isEmpty)
      return DmlResult(snap.version, 0, 0L)
    val hits = DeltaLog.entriesOfUris(spark, snap, hitUris.toSeq)
    val hitRel = hits.map(_.path)

    val hitDf = DeltaLog.scanFiles(spark, snap, hits)
    val affected = hitDf.filter(condition).count()
    val rewritten = transform(hitDf)
    val adds = DeltaWrite.writeDataFiles(rewritten, tablePath,
      snap.partitionColumns, Some(snap.schema))
    DeltaConstraints.enforceStaged(spark, tablePath, adds, snap.schema,
      snap.configuration)
    val cdcs =
      if (DeltaCdf.enabled(snap.configuration))
        DeltaCdf.writeCdcFiles(cdcOf(hitDf), tablePath, Some(snap.schema))
          .map(DeltaCdf.cdcAction)
      else Nil
    val actions = hitRel.map(DeltaWrite.removeAction) ++
      adds.map(DeltaWrite.addAction) ++ cdcs
    val v = DeltaWrite.commit(spark, tablePath, actions, operation,
      snapHint = Some(snap))
    DmlResult(v, hitRel.size, affected)
  }

  final case class MergeResult(version: Long, rewrittenFiles: Int,
      updatedRows: Long, deletedRows: Long, insertedRows: Long)

  /** MERGE INTO: the general upsert the reference's SCD sync is a
    * special case of (delta_to_postgres_scd.py:269-337 closes + inserts
    * by business key; `ScdPipeline` implements that shape directly —
    * this is the open-coded Delta counterpart for arbitrary clauses).
    *
    * The target is aliased `t` and the source `s`: write `condition`,
    * clause conditions, and assignment values against those qualifiers
    * (`col("t.id") === col("s.id")`, `"v" -> col("s.v")`).
    *
    * Clauses (each optional, Delta semantics):
    *   - `matchedUpdate`: assignments applied to matched target rows
    *     (optionally gated by `matchedUpdateCond`);
    *   - `matchedDelete`: matched target rows satisfying the condition
    *     are deleted (checked BEFORE update, as when a MERGE lists
    *     DELETE first);
    *   - `insert`: when true, source rows matching NO target row are
    *     inserted (source schema must cover the target's columns).
    *
    * Copy-on-write at scale: only files holding at least one matched row
    * are rewritten (semi-join collecting file NAMES — metadata-scale);
    * inserts append new files; one atomic remove+add commit. A source
    * with MULTIPLE rows matching one target row makes the update
    * ambiguous — that is an error, as in Delta.
    */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
      condition: Column,
      matchedUpdate: Seq[(String, Column)] = Nil,
      matchedUpdateCond: Option[Column] = None,
      matchedDelete: Option[Column] = None,
      insert: Boolean = false): MergeResult = {
    import org.apache.spark.sql.functions.{count, lit, max, sum}
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap)
    if (matchedUpdate.nonEmpty || matchedDelete.nonEmpty)
      DeltaLog.checkAppendOnly(snap, "MERGE with matched clauses")
    // the insert anti-join reads the SAME snapshot the hit detection and
    // the commit use (see rewrite()): a second read could see a newer
    // version than the one the merge decides against
    val target = DeltaLog.scanFiles(spark, snap, snap.files)

    // Files containing at least one row a matched CLAUSE will act on
    // (file names only come back to the driver, never data). The gate
    // matters: a match with no applicable update/delete clause changes
    // nothing, and rewriting its file would turn an insert-only merge
    // into a spurious full-file rewrite. Provenance comes from the
    // scan's `__file` metadata COLUMN (scanFilesWithMeta), which
    // survives any join strategy — input_file_name() evaluated after a
    // shuffle returns "", which would break hit detection for any
    // source too large to broadcast, exactly the at-scale case.
    import org.apache.spark.sql.functions.lit
    val updGate =
      if (matchedUpdate.nonEmpty) matchedUpdateCond.getOrElse(lit(true))
      else lit(false)
    val actGate = matchedDelete.foldLeft(updGate)(_ || _)
    val hitUris =
      if ((matchedUpdate.isEmpty && matchedDelete.isEmpty) || snap.files.isEmpty)
        Array.empty[String]
      else DeltaLog.scanFilesWithMeta(spark, snap, snap.files)
        .drop("__pos").alias("t")
        .join(source.alias("s"), condition && actGate)
        .select(col("t.__file")).distinct()
        .collect().map(_.getString(0))
    val hits = DeltaLog.entriesOfUris(spark, snap, hitUris.toSeq)
    val hitRel = hits.map(_.path)

    // Source rows matching no target row (whole table, not just hit files).
    val inserts =
      if (!insert) None
      else Some(source.alias("s")
        .join(target.alias("t"), condition, "left_anti")
        .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*))

    if (hitUris.isEmpty && !insert)
      return MergeResult(snap.version, 0, 0L, 0L, 0L)

    // Bounded by the HIT files, not the table — cached once, read for
    // the ambiguity check, the clause counts, and the rewrite; released
    // after the commit (or on any failure).
    val cdf = DeltaCdf.enabled(snap.configuration)
    var cached: Option[DataFrame] = None
    try {
      val (rewritten, updated, deleted, hitChanges, dvActed) =
        if (hitUris.isEmpty) (None, 0L, 0L, None, None)
        else {
          // (__file, __pos) is the stable physical row identity — it
          // keys the ambiguity check deterministically and, on
          // deletion-vector tables, becomes the vectorized position.
          val hit = DeltaLog.scanFilesWithMeta(spark, snap, hits)
          val marked = source.withColumn("__matched", lit(true))
          val joined = hit.alias("t").join(marked.alias("s"), condition, "left")
          joined.persist()
          cached = Some(joined)
          val dup = joined.groupBy(col("t.__file"), col("t.__pos"))
            .agg(count(col("__matched")).as("m")).agg(max(col("m")))
            .head.getLong(0)
          if (dup > 1) throw new IllegalStateException(
            s"MERGE source has $dup rows matching one target row of " +
              s"$tablePath — the update is ambiguous (Delta semantics)")

          val matched = col("__matched").isNotNull
          val doDelete = matchedDelete.map(matched && _).getOrElse(lit(false))
          val doUpdate = matched && !doDelete &&
            matchedUpdateCond.getOrElse(lit(true)) &&
            lit(matchedUpdate.nonEmpty)
          val counts = joined.agg(
            sum(when(doDelete, 1L).otherwise(0L)),
            sum(when(doUpdate, 1L).otherwise(0L))).head
          val nDel = Option(counts.get(0)).fold(0L)(_.asInstanceOf[Long])
          val nUpd = Option(counts.get(1)).fold(0L)(_.asInstanceOf[Long])

          val kept = joined.filter(!doDelete)
          val applied = snap.schema.fieldNames.map { f =>
            matchedUpdate.toMap.get(f) match {
              case Some(v) => when(doUpdate, v).otherwise(col(s"t.$f")).as(f)
              case None => col(s"t.$f").as(f)
            }
          }
          val changes =
            if (!cdf) None
            else {
              val tcols = snap.schema.fieldNames.toIndexedSeq.map(f => col(s"t.$f").as(f))
              Some(joined.filter(doDelete).select(tcols: _*)
                .withColumn("_change_type", lit("delete"))
                .unionByName(joined.filter(doUpdate).select(tcols: _*)
                  .withColumn("_change_type", lit("update_preimage")))
                .unionByName(joined.filter(doUpdate).select(applied.toIndexedSeq: _*)
                  .withColumn("_change_type", lit("update_postimage"))))
            }
          if (DeltaDv.enabled(snap.configuration)) {
            // Merge-on-read: acted-on rows (deleted or updated) are
            // vectored out of their files; ONLY the updated versions
            // re-materialize (plus inserts) — untouched rows in hit
            // files are never rewritten.
            val acted = joined.filter(doDelete || doUpdate)
              .select(col("t.__file").as("__file"), col("t.__pos").as("__pos"))
            val updatedRows = joined.filter(doUpdate)
              .select(applied.toIndexedSeq: _*)
            (Some(updatedRows), nUpd, nDel, changes, Some(acted))
          } else
            (Some(kept.select(applied.toIndexedSeq: _*)), nUpd, nDel, changes, None)
        }

      val nIns = inserts.map(_.count()).getOrElse(0L)
      // In merge-on-read mode `rewritten` holds the UPDATED rows only;
      // an acted-delete-only merge materializes no rewrite data at all.
      val rewriteData = rewritten.filter(_ => dvActed.isEmpty || updated > 0)
      val newData = (rewriteData, inserts) match {
        case (Some(r), Some(i)) if nIns > 0 => Some(r.unionByName(i))
        case (Some(r), _) => Some(r)
        case (None, Some(i)) if nIns > 0 => Some(i)
        case _ => None
      }
      if (newData.isEmpty && hitRel.isEmpty)
        return MergeResult(snap.version, 0, 0L, 0L, 0L)

      val adds = newData.toSeq.flatMap(d =>
        DeltaWrite.writeDataFiles(d, tablePath, snap.partitionColumns,
          Some(snap.schema)))
      DeltaConstraints.enforceStaged(spark, tablePath, adds, snap.schema,
        snap.configuration)
      val cdcs =
        if (!cdf) Nil
        else {
          val insChanges = inserts.filter(_ => nIns > 0)
            .map(_.withColumn("_change_type", lit("insert")))
          (hitChanges, insChanges) match {
            case (Some(h), Some(i)) =>
              DeltaCdf.writeCdcFiles(h.unionByName(i), tablePath, Some(snap.schema))
            case (Some(h), None) =>
              DeltaCdf.writeCdcFiles(h, tablePath, Some(snap.schema))
            case (None, Some(i)) =>
              DeltaCdf.writeCdcFiles(i, tablePath, Some(snap.schema))
            case _ => Nil
          }
        }.map(DeltaCdf.cdcAction)
      val actions = dvActed match {
        case Some(acted) =>
          // vectorize the acted rows instead of removing+rewriting the
          // hit files; kept rows stay physically where they are
          val dvPart = DeltaDv.vectorize(spark, snap, tablePath, acted)
            .map(_._1).getOrElse(Nil)
          DeltaWrite.dvProtocolAction(snap.protocol) +:
            (dvPart ++ adds.map(DeltaWrite.addAction) ++ cdcs)
        case None =>
          hitRel.map(DeltaWrite.removeAction) ++
            adds.map(DeltaWrite.addAction) ++ cdcs
      }
      val v = DeltaWrite.commit(spark, tablePath, actions, "MERGE",
        snapHint = Some(snap))
      MergeResult(v, if (dvActed.isDefined) 0 else hitRel.size,
        updated, deleted, nIns)
    } finally cached.foreach(_.unpersist())
  }

  // ---- REPL dispatch ------------------------------------------------

  private val UpdateRe =
    """(?is)\s*UPDATE\s+(\S+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val DeleteRe =
    """(?is)\s*DELETE\s+FROM\s+(\S+)(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+(\S+?)\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(\S+?)(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(\S+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val AddConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r
  private val SetPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+(\S+)\s+SHALLOW\s+CLONE\s+(\S+)\s*;?\s*""".r
  private val ConvertRe =
    """(?is)\s*CONVERT\s+TO\s+DELTA\s+(?:parquet\.)?(\S+)\s*;?\s*""".r
  private val AddColumnsRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ADD\s+COLUMNS?\s*\((.+)\)\s*;?\s*""".r
  private val RenameColumnRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*""".r
  private val DropColumnRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*""".r
  private val WidenColumnRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ALTER\s+COLUMN\s+(\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+(.+?)\s*;?\s*""".r
  private val CheckpointRe =
    """(?is)\s*CHECKPOINT\s+(\S+?)(?:\s+(V2)(?:\s+SIDECARS\s+(\d+))?|\s+PARTS\s+(\d+))?\s*;?\s*""".r
  private val CleanupRe =
    """(?is)\s*CLEANUP\s+LOG\s+(\S+?)\s*;?\s*""".r
  private val CompactLogRe =
    """(?is)\s*COMPACT\s+LOG\s+(\S+?)\s+FROM\s+(\d+)\s+TO\s+(\d+)\s*;?\s*""".r

  /** Dispatch Delta maintenance / constraint statements against a table
    * path (the REPL's non-SELECT surface beyond DML): OPTIMIZE, VACUUM
    * [RETAIN n HOURS], RESTORE … TO VERSION AS OF n, CHECKPOINT …
    * [V2 [SIDECARS n] | PARTS n], CLEANUP LOG …, ALTER TABLE …
    * ADD/DROP CONSTRAINT. Returns a human-readable summary, or None
    * when the statement is none of these. */
  def dispatchMaintenance(spark: SparkSession, sql: String): Option[String] = sql match {
    case OptimizeRe(target) =>
      val (n, v) = DeltaMaintenance.compact(spark, unquote(target))
      Some(s"compacted $n files (version $v)")
    case VacuumRe(target, hours) =>
      val retainMs = Option(hours).map(_.toLong * 3600 * 1000L).getOrElse(0L)
      val n = DeltaMaintenance.vacuum(spark, unquote(target), retainMs)
      Some(s"vacuumed $n unreferenced files")
    case RestoreRe(target, v) =>
      val nv = DeltaMaintenance.restore(spark, unquote(target), v.toLong)
      Some(s"restored to version $v (as new version $nv)")
    case AddConstraintRe(target, name, check) =>
      val v = DeltaConstraints.addCheck(spark, unquote(target), name, check)
      Some(s"constraint $name added (version $v)")
    case DropConstraintRe(target, name) =>
      val v = DeltaConstraints.dropCheck(spark, unquote(target), name)
      Some(s"constraint $name dropped (version $v)")
    case CloneRe(target, source) =>
      val v = DeltaMaintenance.shallowClone(spark, unquote(source), unquote(target))
      Some(s"shallow clone created at ${unquote(target)} (version $v)")
    case ConvertRe(target) =>
      val v = DeltaMaintenance.convertToDelta(spark, unquote(target))
      Some(s"converted ${unquote(target)} to Delta (version $v)")
    case AddColumnsRe(target, ddl) =>
      val v = DeltaSchema.addColumns(spark, unquote(target), ddl)
      Some(s"column(s) added (version $v)")
    case RenameColumnRe(target, from, to) =>
      val v = DeltaSchema.renameColumn(spark, unquote(target), from, to)
      Some(s"column $from renamed to $to (version $v)")
    case DropColumnRe(target, name) =>
      val v = DeltaSchema.dropColumn(spark, unquote(target), name)
      Some(s"column $name dropped (version $v)")
    case WidenColumnRe(target, name, toDdl) =>
      val v = DeltaSchema.widenColumnType(spark, unquote(target), name, toDdl)
      Some(s"column $name widened to ${toDdl.trim} (version $v)")
    case CheckpointRe(target, v2, sidecars, parts) =>
      val t = unquote(target)
      val v =
        if (v2 != null)
          DeltaWrite.checkpointV2(spark, t,
            Option(sidecars).map(_.toInt).getOrElse(1))
        else
          DeltaWrite.checkpoint(spark, t,
            Option(parts).map(_.toInt).getOrElse(1))
      Some(s"checkpointed $t at version $v" +
        (if (v2 != null) " (v2)" else ""))
    case CleanupRe(target) =>
      val n = DeltaMaintenance.cleanupLog(spark, unquote(target))
      Some(s"cleaned $n log files behind the checkpoint horizon")
    case CompactLogRe(target, s, e) =>
      val p = DeltaMaintenance.compactLog(spark, unquote(target),
        s.toLong, e.toLong)
      Some(s"log range [$s, $e] compacted to $p")
    case SetPropsRe(target, propList) =>
      val props = splitTopLevel(propList).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        unquote(k.trim) -> unquote(v.trim)
      }.toMap
      val v = DeltaMaintenance.setTblProperties(spark, unquote(target), props)
      Some(s"${props.size} propert${if (props.size == 1) "y" else "ies"} " +
        s"set (version $v)")
    case _ => None
  }

  /** Dispatch an UPDATE/DELETE statement against a Delta table path, the
    * way the reference REPL routes non-SELECT statements to its engine.
    * Returns None when the statement is not DML (caller falls through to
    * `spark.sql`). The target must be a filesystem path to a Delta table
    * (quoted or bare); assignments/predicates are Spark SQL expressions.
    */
  def dispatch(spark: SparkSession, sql: String): Option[DmlResult] = sql match {
    case UpdateRe(target, setList, where) =>
      val assignments = splitTopLevel(setList).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> expr(v.trim)
      }
      Some(update(spark, unquote(target), expr(where), assignments))
    case DeleteRe(target, where) =>
      val cond = Option(where).map(w => expr(w))
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      Some(delete(spark, unquote(target), cond))
    case _ => None
  }

  // ---- MERGE statement parse ----------------------------------------

  private val MergeHead =
    """(?is)\s*MERGE\s+INTO\s+(\S+)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s+USING\s+(.*)""".r

  /** Parse and execute a `MERGE INTO` statement against a Delta table
    * path, the REPL counterpart of [[merge]] (the reference REPL routes
    * every non-SELECT to its engine, query_sync_table.py:123-125).
    *
    * Supported grammar (Delta's SQL shape):
    * {{{
    * MERGE INTO <path> [AS] <t> USING (<subquery>)|<table> [AS] <s>
    *   ON <condition>
    *   [WHEN MATCHED [AND <cond>] THEN UPDATE SET a = <expr>, ...]
    *   [WHEN MATCHED [AND <cond>] THEN DELETE]
    *   [WHEN NOT MATCHED THEN INSERT *]
    * }}}
    * Aliases are free (rewritten to the engine's `t`/`s` qualifiers);
    * `INSERT *` is the only insert form because [[merge]] projects the
    * target schema out of the source by name. Returns None when the
    * statement is not a MERGE; malformed MERGE text throws (a silent
    * fall-through to spark.sql would produce a confusing parser error).
    */
  def dispatchMerge(spark: SparkSession, sql: String): Option[MergeResult] = sql match {
    case MergeHead(target, tAliasOrNull, rest) =>
      val tAlias = Option(tAliasOrNull).getOrElse("t")
      // Source: balanced-paren subquery or a single table/path token.
      val trimmed = rest.trim
      val (src, afterSrc) =
        if (trimmed.startsWith("(")) {
          val end = matchingParen(trimmed)
          (trimmed.substring(0, end + 1), trimmed.substring(end + 1))
        } else {
          val end = trimmed.indexWhere(_.isWhitespace)
          require(end > 0, s"MERGE: missing ON clause in: $sql")
          (trimmed.substring(0, end), trimmed.substring(end))
        }
      val SrcTail = """(?is)\s*(?:(?:AS\s+)?([A-Za-z_]\w*)\s+)??ON\s+(.*)""".r
      val (sAlias, afterOn) = afterSrc match {
        case SrcTail(a, tail) => (Option(a).getOrElse("s"), tail)
        case _ => throw new IllegalArgumentException(
          s"MERGE: expected [alias] ON <condition> after USING source in: $sql")
      }
      // Condition runs to the first top-level WHEN.
      val whenAt = indexOfTopLevelWord(afterOn, "WHEN")
      require(whenAt > 0, s"MERGE: no WHEN clause in: $sql")
      def rq(e: String): Column = expr(requalify(e, tAlias, sAlias))
      val condition = rq(afterOn.substring(0, whenAt).trim)

      val MatchedUpdate =
        """(?is)\s*MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+(.+?)\s*;?\s*""".r
      val MatchedDelete =
        """(?is)\s*MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE\s*;?\s*""".r
      val NotMatchedInsert =
        """(?is)\s*NOT\s+MATCHED\s+THEN\s+INSERT\s+(.+?)\s*;?\s*""".r
      var upd: Seq[(String, Column)] = Nil
      var updCond: Option[Column] = None
      var delCond: Option[Column] = None
      var doInsert = false
      splitTopLevelWord(afterOn.substring(whenAt + "WHEN".length), "WHEN")
        .foreach {
          case MatchedUpdate(cond, setList) =>
            upd = splitTopLevel(setList).map { kv =>
              val Array(k, v) = kv.split("=", 2)
              val name = k.trim.stripPrefix(s"$tAlias.").stripPrefix("t.")
              name -> rq(v.trim)
            }
            updCond = Option(cond).map(rq)
          case MatchedDelete(cond) =>
            delCond = Some(Option(cond).map(rq)
              .getOrElse(org.apache.spark.sql.functions.lit(true)))
          case NotMatchedInsert(form) =>
            require(form.trim == "*", "MERGE: only INSERT * is supported " +
              "(the engine projects the target schema from the source by name)")
            doInsert = true
          case other => throw new IllegalArgumentException(
            s"MERGE: unsupported WHEN clause: WHEN $other")
        }

      val source = resolveMergeSource(spark, src)
      Some(merge(spark, unquote(target), source, condition,
        matchedUpdate = upd, matchedUpdateCond = updCond,
        matchedDelete = delCond, insert = doInsert))
    case _ => None
  }

  private def resolveMergeSource(spark: SparkSession, src: String): DataFrame =
    if (src.startsWith("(")) spark.sql(src.stripPrefix("(").stripSuffix(")"))
    else {
      val name = unquote(src)
      if (DeltaLog.isDeltaTable(spark, name)) DeltaLog.read(spark, name)
      else scala.util.Try(spark.table(name))
        .getOrElse(spark.read.parquet(name))
    }

  /** Rewrite the statement's alias qualifiers to the engine's fixed
    * `t.`/`s.` (two-step so `MERGE INTO x s USING y t` cross-renames
    * correctly). Qualifiers inside string literals are not protected —
    * acceptable for the REPL surface. */
  private def requalify(e: String, tAlias: String, sAlias: String): String = {
    def q(a: String) = "(?i)(?<![\\w.`])" + java.util.regex.Pattern.quote(a) + "\\s*\\."
    e.replaceAll(q(tAlias), "__GT__.").replaceAll(q(sAlias), "__GS__.")
      .replace("__GT__.", "t.").replace("__GS__.", "s.")
  }

  /** Index just past the paren that closes `s`'s leading '('. */
  private def matchingParen(s: String): Int = {
    var depth = 0; var inStr = false
    s.zipWithIndex.foreach { case (c, i) =>
      c match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr =>
          depth -= 1; if (depth == 0) return i
        case _ =>
      }
    }
    throw new IllegalArgumentException(s"unbalanced parentheses in: $s")
  }

  /** First index of whole-word `word` (case-insensitive) outside parens
    * and string literals; -1 if absent. */
  private def indexOfTopLevelWord(s: String, word: String): Int = {
    var depth = 0; var inStr = false; var i = 0
    val n = s.length; val w = word.length
    while (i < n) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case _ =>
      }
      if (!inStr && depth == 0 && i + w <= n &&
          s.regionMatches(true, i, word, 0, w) &&
          (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1)) && s.charAt(i - 1) != '_') &&
          (i + w == n || !Character.isLetterOrDigit(s.charAt(i + w)) && s.charAt(i + w) != '_'))
        return i
      i += 1
    }
    -1
  }

  /** Split on top-level whole-word occurrences of `word`. */
  private def splitTopLevelWord(s: String, word: String): Seq[String] = {
    val at = indexOfTopLevelWord(s, word)
    if (at < 0) Seq(s)
    else s.substring(0, at) +:
      splitTopLevelWord(s.substring(at + word.length), word)
  }

  private[sources] def unquote(t: String): String =
    t.stripPrefix("'").stripSuffix("'").stripPrefix("`").stripSuffix("`")

  /** Split `a = f(x, y), b = 2` on commas not nested in parens/quotes. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    var depth = 0; var inStr = false; var start = 0
    s.zipWithIndex.foreach { case (c, i) =>
      c match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }
}
