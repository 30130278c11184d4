package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Version checksum files (`_delta_log/<version>.crc`) — the protocol's
  * optional per-version state summary (PROTOCOL.md "Version Checksum
  * File"; the reference stack's delta engine writes them on every
  * commit). The file is one JSON object describing the POST-commit
  * table state:
  *
  *   - `tableSizeBytes` — Σ size over live add entries
  *   - `numFiles`       — count of live add entries
  *   - `numMetadata` / `numProtocol` — 1 each (exactly one live action)
  *   - `numDeletionVectorsOpt` — live adds carrying a DV (when any)
  *   - `inCommitTimestampOpt`  — the commit's ICT (when enabled)
  *
  * Two jobs: WRITERS emit one after each landed commit (best-effort —
  * a failed checksum write never fails the commit, matching the
  * protocol's "optional" contract), and READERS use an existing one as
  * a corruption tripwire: after replaying to version v, the replayed
  * live-set totals must match v's checksum exactly, else the log (or
  * the replay) is damaged and the read refuses loudly instead of
  * serving a silently-wrong table. Log cleanup removes checksums with
  * their commits ([[DeltaMaintenance.cleanupLog]]).
  *
  * At 100 TB the verify is free (two longs compared against totals the
  * replay already accumulated) and runs on every snapshot, cache hits
  * included. The write needs the snapshot of the just-committed version,
  * which [[DeltaLog.snapshot]] serves from its JVM-wide cache: the
  * committer read the table before committing, so the cached plan is a
  * prefix of the fresh one (same checkpoint, and the cached commit files
  * unchanged in length and mtime) and only the new commit JSON is
  * parsed — one listing, no checkpoint read, no Spark job. When the
  * prefix rule fails (a checkpoint or compaction landed in between, or
  * another process rewrote the log) the write pays a full replay, the
  * same bounded work any reader pays. Disable writes with
  * `spark.graft.delta.writeChecksum=false`.
  */
object DeltaChecksum {

  private val mapper = new ObjectMapper()

  private[sources] def crcPath(tablePath: String, version: Long): Path =
    new Path(DeltaLog.logDir(tablePath), f"$version%020d.crc")

  private def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.delta.writeChecksum")
      .forall(_.toBoolean)

  /** Best-effort post-commit write. Never throws. */
  def write(spark: SparkSession, tablePath: String, version: Long): Unit = {
    if (!enabled(spark)) return
    try {
      val snap = DeltaLog.snapshot(spark, tablePath, Some(version))
      val n = mapper.createObjectNode()
      n.put("tableSizeBytes", snap.files.map(_.size).sum)
      n.put("numFiles", snap.files.size.toLong)
      n.put("numMetadata", 1L)
      n.put("numProtocol", 1L)
      val nDv = snap.files.count(_.dv.isDefined)
      if (nDv > 0) n.put("numDeletionVectorsOpt", nDv.toLong)
      DeltaLog.commitIct(spark, tablePath, version)
        .foreach(t => n.put("inCommitTimestampOpt", t))
      val p = crcPath(tablePath, version)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(mapper.writeValueAsString(n).getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => }
  }

  /** Parsed checksum for a version, if one exists and parses. */
  def read(spark: SparkSession, tablePath: String,
      version: Long): Option[ObjectNode] = {
    val p = crcPath(tablePath, version)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try mapper.readTree(in) match {
        case o: ObjectNode => Some(o)
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
      finally in.close()
    }
  }

  /** Reader-side tripwire: a replayed state that contradicts its
    * version's checksum is corruption — refuse loudly. */
  private[sources] def verify(spark: SparkSession,
      snap: DeltaLog.Snapshot): Unit =
    read(spark, snap.tablePath, snap.version).foreach { c =>
      def bad(field: String, expected: Long, got: Long) =
        throw new IllegalStateException(
          s"Delta checksum mismatch at version ${snap.version} of " +
            s"${snap.tablePath}: $field recorded $expected, replay got " +
            s"$got — the log or a checkpoint is damaged")
      if (c.hasNonNull("numFiles") &&
          c.get("numFiles").asLong() != snap.files.size)
        bad("numFiles", c.get("numFiles").asLong(), snap.files.size.toLong)
      val size = snap.files.map(_.size).sum
      if (c.hasNonNull("tableSizeBytes") &&
          c.get("tableSizeBytes").asLong() != size)
        bad("tableSizeBytes", c.get("tableSizeBytes").asLong(), size)
      val nDv = snap.files.count(_.dv.isDefined).toLong
      if (c.hasNonNull("numDeletionVectorsOpt") &&
          c.get("numDeletionVectorsOpt").asLong() != nDv)
        bad("numDeletionVectorsOpt",
          c.get("numDeletionVectorsOpt").asLong(), nDv)
    }
}
