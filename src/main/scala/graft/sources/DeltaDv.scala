package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.sources.DeltaDml.DmlResult

/** Merge-on-read DELETE via deletion vectors (the protocol's
  * `deletionVector` add-file field, reader 3 / writer 7 feature): with
  * `delta.enableDeletionVectors=true`, a DELETE writes the deleted ROW
  * POSITIONS to a sidecar and re-adds the untouched data files with a
  * DV descriptor — no data rewrite at all. A point delete on a 100 TB
  * table costs one scan of the HIT files plus a sidecar of the deleted
  * positions, instead of rewriting every hit file; the scan-side cost
  * is one anti-join bounded by deleted rows ([[DeltaLog.scanFilesWithMeta]]).
  *
  * Physical encoding ([[RoaringDv]]): ONE roaring-format DV file per
  * DELETE commit — the protocol's framed layout (format-version byte,
  * then per vector big-endian size · roaring portable bitmap · CRC-32)
  * holding every hit file's vector at its own descriptor offset, the
  * same multi-vector-per-file shape Delta writes. Building the file
  * concentrates the COMMIT'S deletion set at the driver (bounded by
  * the delete's affected rows — the same working set Delta's own DV
  * writer materializes as bitmaps); the SCAN side stays distributed
  * (vectors parse in executor tasks, [[DeltaLog.scanFiles]]).
  * Re-deleting from an already-vectored file UNIONS the old positions
  * into the new file (a file's descriptor always points at its
  * complete deletion set; the superseded DV file becomes vacuumable).
  *
  * UPDATE is merge-on-read too ([[update]]): old row versions are
  * vectored out and only the UPDATED rows append as new files. MERGE
  * and OPTIMIZE stay copy-on-write: their rewrites read through the DV
  * filter (purging deleted rows physically) and re-add files WITHOUT a
  * descriptor, retiring the vector.
  */
object DeltaDv {

  val Property = "delta.enableDeletionVectors"
  val DvDir = "_deletion_vectors"

  def enabled(configuration: Map[String, String]): Boolean =
    configuration.get(Property).exists(_.equalsIgnoreCase("true"))

  /** Serialized size at or under which a vector is INLINED into its
    * descriptor ('i' form) instead of referenced from a DV file — a
    * point delete costs one z85 string in the commit JSON, zero extra
    * files (the small-file problem applied to sidecars: a streaming
    * DML workload would otherwise mint one tiny .bin per commit). 512 B
    * serialized ≈ up to ~240 scattered positions. */
  private val InlineMaxBytes = 512

  /** Build each hit file's descriptor: vectors at or under
    * [[InlineMaxBytes]] inline into the descriptor ('i'); the rest
    * frame into ONE DV file per commit, emitted in the protocol's
    * RELOCATABLE 'u' form — the form standard Delta writers produce:
    * the file lands at `<table>/<DvDir>/deletion_vector_<uuid>.bin`
    * and the descriptor carries `<DvDir><z85(uuid)>` (prefix +
    * 20-char encoded UUID), so the whole table survives a plain
    * directory move/copy with no descriptor rewrite (an absolute 'p'
    * reference would dangle). */
  private def writeDescriptors(spark: SparkSession, tablePath: String,
      perFile: Seq[(String, Array[Byte], Long)])
      : Map[String, DeltaLog.DvDescriptor] = {
    val ordered = perFile.sortBy(_._1)
    val (small, big) = ordered.partition(_._2.length <= InlineMaxBytes)
    val inlined = small.map { case (f, data, card) =>
      f -> DeltaLog.DvDescriptor("", card, 1L, data.length.toLong,
        "i", RoaringDv.z85EncodePadded(data))
    }
    val filed: Seq[(String, DeltaLog.DvDescriptor)] =
      if (big.isEmpty) Nil
      else {
        val table = new Path(tablePath)
        val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
        val (bytes, descs) =
          RoaringDv.frameSerialized(big.map(t => t._2 -> t._3))
        val uuid = java.util.UUID.randomUUID()
        val rel = s"$DvDir/deletion_vector_$uuid.bin"
        val target = new Path(table, rel)
        fs.mkdirs(target.getParent)
        val out = fs.create(target, false)
        try out.write(bytes) finally out.close()
        val bb = java.nio.ByteBuffer.allocate(16)
        bb.putLong(uuid.getMostSignificantBits)
        bb.putLong(uuid.getLeastSignificantBits)
        val raw = DvDir + RoaringDv.z85Encode(bb.array())
        big.map(_._1).zip(descs).map { case (f, (off, size, card)) =>
          f -> DeltaLog.DvDescriptor(rel, card, off, size, "u", raw)
        }
      }
    (inlined ++ filed).toMap
  }

  /** Parse the existing vector of an already-vectored file (driver-side;
    * bounded by that file's deletion set). */
  private def existingPositions(spark: SparkSession, tablePath: String,
      d: DeltaLog.DvDescriptor): Array[Long] = {
    if (d.inline)
      return RoaringDv.deserialize(
        RoaringDv.z85DecodeTo(d.raw, d.sizeInBytes.toInt))
    val p = new Path(tablePath, d.path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val len = fs.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    RoaringDv.unframe(bytes, d.offset, d.sizeInBytes)
  }

  /** The vectorization common to MOR DELETE and UPDATE: given the
    * matched rows (with provenance columns), stage ONE sidecar holding
    * the hit files' complete deletion sets and return the remove /
    * re-add-with-descriptor actions plus the newly-deleted row count.
    * None when nothing matched. */
  private[sources] def vectorize(spark: SparkSession, snap: DeltaLog.Snapshot,
      tablePath: String, matched: DataFrame)
      : Option[(Seq[com.fasterxml.jackson.databind.node.ObjectNode], Long)] = {
    val hitFiles = matched.select("__file").distinct()
      .collect().map(_.getString(0)) // metadata-scale
    if (hitFiles.isEmpty) return None

    val hitEntries = hitFiles.toSeq.zip(
      DeltaLog.entriesOfUris(spark, snap, hitFiles.toSeq))

    // New positions ∪ the hit files' existing vectors → each descriptor
    // stays the file's COMPLETE deletion set. The bitmaps SERIALIZE ON
    // THE EXECUTORS (one group per hit file); the driver collects only
    // the compressed per-file DV payloads — the very bytes this commit
    // must write into the log/sidecar anyway (log metadata, the
    // documented bounded-collect class) — never one row per deleted
    // row. Files that already carry a vector merge driver-side, bounded
    // by that file's deletion set.
    import spark.implicits._
    val newSerByFile: Map[String, (Array[Byte], Long)] = matched
      .select(col("__file"), col("__pos"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        // dedup after the sort: a duplicate (file,pos) pair reaching the
        // matched frame must not inflate cardinality past the bitmap's
        // true distinct-position count — the descriptor contract
        // (cardinality == bitmap cardinality) is what replay trusts
        val sorted = it.map(_._2).toArray
        java.util.Arrays.sort(sorted)
        val ps = new Array[Long](sorted.length)
        var n = 0
        var i = 0
        while (i < sorted.length) {
          if (n == 0 || ps(n - 1) != sorted(i)) { ps(n) = sorted(i); n += 1 }
          i += 1
        }
        val uniq = java.util.Arrays.copyOf(ps, n)
        (f, RoaringDv.serialize(uniq), n.toLong)
      }
      .collect().map { case (f, bytes, card) => f -> (bytes, card) }.toMap
    val perFile: Seq[(String, Array[Byte], Long)] =
      hitEntries.map { case (f, a) =>
        val (newBytes, newCard) =
          newSerByFile.getOrElse(f, (RoaringDv.serialize(Array.empty), 0L))
        a.dv match {
          case None => (f, newBytes, newCard)
          case Some(d) =>
            val merged = (RoaringDv.deserialize(newBytes) ++
              existingPositions(spark, tablePath, d)).distinct.sorted
            (f, RoaringDv.serialize(merged), merged.length.toLong)
        }
      }

    val descs = writeDescriptors(spark, tablePath, perFile)
    val oldCards = hitEntries.map(_._2.dv.map(_.cardinality).getOrElse(0L)).sum
    val affected = descs.values.map(_.cardinality).sum - oldCards

    // remove + re-add with the descriptor (adds AFTER removes — replay
    // is line-ordered)
    val actions = hitEntries.map(e => DeltaWrite.removeAction(e._2.path)) ++
      hitEntries.map { case (f, a) =>
        DeltaWrite.addAction(a.copy(dv = Some(descs(f))))
      }
    Some((actions, affected))
  }

  /** The merge-on-read DELETE. Called by [[DeltaDml.delete]] when the
    * table property opts in. */
  private[sources] def delete(spark: SparkSession, tablePath: String,
      condition: org.apache.spark.sql.Column): DmlResult = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap)
    if (snap.files.isEmpty) return DmlResult(snap.version, 0, 0L)

    val withMeta = DeltaLog.scanFilesWithMeta(spark, snap, snap.files)
    // Already-vectored rows are filtered by the scan, so `matched` is
    // exactly the NEWLY deleted rows.
    val matched = withMeta.filter(condition)
    vectorize(spark, snap, tablePath, matched) match {
      case None => DmlResult(snap.version, 0, 0L)
      case Some((dvActions, affected)) =>
        val cdcs =
          if (!DeltaCdf.enabled(snap.configuration)) Nil
          else DeltaCdf.writeCdcFiles(
            matched.select(snap.schema.fieldNames.toIndexedSeq.map(col): _*)
              .withColumn("_change_type", lit("delete")), tablePath,
            Some(snap.schema))
            .map(DeltaCdf.cdcAction)
        val v = DeltaWrite.commit(spark, tablePath,
          DeltaWrite.dvProtocolAction(snap.protocol) +: (dvActions ++ cdcs),
          "DELETE", snapHint = Some(snap))
        DmlResult(v, 0, affected)
    }
  }

  /** Merge-on-read UPDATE: the matched rows' OLD versions are vectored
    * out of their files and the UPDATED versions append as new files —
    * cost proportional to updated ROWS, not hit files (a one-row update
    * in a 1 GB file writes a one-row file plus a one-position sidecar).
    * Called by [[DeltaDml.update]] when the table property opts in. */
  private[sources] def update(spark: SparkSession, tablePath: String,
      condition: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): DmlResult = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap)
    if (snap.files.isEmpty) return DmlResult(snap.version, 0, 0L)

    val withMeta = DeltaLog.scanFilesWithMeta(spark, snap, snap.files)
    val matched = withMeta.filter(condition)
    vectorize(spark, snap, tablePath, matched) match {
      case None => DmlResult(snap.version, 0, 0L)
      case Some((dvActions, affected)) =>
        val byName = assignments.toMap
        // SET expressions evaluate against the OLD row, all at once
        // (same projection rule as the copy-on-write path).
        val assigned = matched.select(snap.schema.fieldNames.toIndexedSeq.map { c =>
          byName.get(c).map(_.as(c)).getOrElse(col(c))
        }: _*)
        // Unassigned generated columns recompute from their recorded
        // expression AFTER the assignments (same rule as DeltaDml.update)
        // — otherwise enforceStaged vetoes the commit for staging stale
        // generated values.
        val updated = DeltaGenerated.generationExprs(snap.schema)
          .filterNot { case (c, _) => byName.contains(c) }
          .foldLeft(assigned) { case (d, (c, e)) =>
            val dt = snap.schema.fields.find(_.name == c).get.dataType
            d.withColumn(c, org.apache.spark.sql.functions.expr(e).cast(dt))
          }
        val adds = DeltaWrite.writeDataFiles(updated, tablePath,
          snap.partitionColumns, Some(snap.schema))
        DeltaConstraints.enforceStaged(spark, tablePath, adds, snap.schema,
          snap.configuration)
        val cdcs =
          if (!DeltaCdf.enabled(snap.configuration)) Nil
          else DeltaCdf.writeCdcFiles(
            matched.select(snap.schema.fieldNames.toIndexedSeq.map(col): _*)
              .withColumn("_change_type", lit("update_preimage"))
              .unionByName(updated
                .withColumn("_change_type", lit("update_postimage"))), tablePath,
            Some(snap.schema))
            .map(DeltaCdf.cdcAction)
        val v = DeltaWrite.commit(spark, tablePath,
          DeltaWrite.dvProtocolAction(snap.protocol) +:
            (dvActions ++ adds.map(DeltaWrite.addAction) ++ cdcs),
          "UPDATE", snapHint = Some(snap))
        DmlResult(v, 0, affected)
    }
  }
}
