package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaDml, DeltaDv, DeltaLog, DeltaMaintenance, DeltaWrite}

/** The JVM-wide snapshot cache inside [[DeltaLog.snapshot]]: a cached
  * (incrementally extended) snapshot must equal a full replay of the
  * same version on every field, `files` order included, whatever the
  * log did in between; the checksum tripwire still runs on hits; and a
  * warm read costs a listing, not a replay. */
class DeltaSnapshotCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-snapshot-cache-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    s
  }

  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-snapcache").resolve("t").toString

  /** Cached snapshot vs full replay at the same version (latest when
    * None): equal as case classes, with the file order spelled out for a
    * readable failure. */
  private def assertCachedEqualsReplay(t: String, v: Option[Long] = None,
      clue: String = ""): Unit = {
    val cached = DeltaLog.snapshot(spark, t, v)
    val fresh = DeltaLog.replayUncached(spark, t, v)
    assert(cached.files.map(_.path) == fresh.files.map(_.path),
      s"$clue: file order differs at v${fresh.version}")
    assert(cached == fresh, s"$clue: snapshot differs at v${fresh.version}")
  }

  private def commitVersions(t: String): Seq[Long] =
    new java.io.File(s"$t/_delta_log").listFiles().map(_.getName)
      .collect { case n if n.matches("""\d{20}\.json""") => n.take(20).toLong }
      .sorted.toSeq

  /** One generated log operation. */
  private sealed trait Op
  private case class Append(n: Int) extends Op
  private case class Overwrite(n: Int) extends Op
  private case class Merge(k: Int, fresh: Int) extends Op
  private case class DvDelete(k: Int, r: Int) extends Op
  private case class Checkpoint(parts: Int) extends Op
  private case class CheckpointV2(sidecars: Int) extends Op
  private case class CompactLog(span: Int) extends Op
  private case object CleanupLog extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.choose(1, 3).map(Append(_)),
    1 -> Gen.choose(1, 4).map(Overwrite(_)),
    2 -> (for (k <- Gen.choose(2, 4); f <- Gen.choose(0, 2)) yield Merge(k, f)),
    2 -> (for (k <- Gen.choose(2, 5); r <- Gen.choose(0, 1)) yield DvDelete(k, r)),
    1 -> Gen.const(Checkpoint(1)),
    1 -> Gen.choose(2, 3).map(Checkpoint(_)),
    1 -> Gen.choose(1, 2).map(CheckpointV2(_)),
    1 -> Gen.choose(1, 3).map(CompactLog(_)),
    1 -> Gen.const(CleanupLog))

  test("property: after every generated log step, the cached snapshot " +
    "equals a full replay (latest and a time-travel version)") {
    val (hits0, _) = DeltaLog.snapshotCacheCounts
    (1 to 3).foreach { round =>
      val ops = Gen.listOfN(10, opGen)(Gen.Parameters.default,
        Seed(7100L + round)).get
      val pick = new scala.util.Random(round)
      val t = tmpTable()
      var nextId = 0
      def batch(n: Int) = {
        val b = (nextId until nextId + n).map(i => (i, i * 1.5))
        nextId += n
        b.toDF("id", "v")
      }
      DeltaWrite.write(batch(4), t)
      DeltaMaintenance.setTblProperties(spark, t, Map(DeltaDv.Property -> "true"))
      assertCachedEqualsReplay(t, clue = s"round $round setup")
      ops.zipWithIndex.foreach { case (op, i) =>
        op match {
          case Append(n) => DeltaWrite.write(batch(n), t, SaveMode.Append)
          case Overwrite(n) => DeltaWrite.write(batch(n), t, SaveMode.Overwrite)
          case Merge(k, fresh) =>
            val ids = DeltaLog.read(spark, t).select("id").as[Int].collect()
              .filter(_ % k == 0).toSeq
            DeltaDml.merge(spark, t,
              (ids.map(id => (id, -1.0 * id)).toDF("id", "v")
                .unionByName(batch(fresh))),
              col("t.id") === col("s.id"),
              matchedUpdate = Seq("v" -> col("s.v")), insert = true)
          case DvDelete(k, r) =>
            DeltaDml.delete(spark, t, pmod(col("id"), lit(k)) === r)
          case Checkpoint(parts) => DeltaWrite.checkpoint(spark, t, parts)
          case CheckpointV2(sc) => DeltaWrite.checkpointV2(spark, t, sidecars = sc)
          case CompactLog(span) =>
            val vs = commitVersions(t)
            if (vs.size >= 2) {
              val end = vs.last
              DeltaMaintenance.compactLog(spark, t,
                math.max(vs.head, end - span), end)
            }
          case CleanupLog => DeltaMaintenance.cleanupLog(spark, t)
        }
        val clue = s"round $round step $i $op"
        assertCachedEqualsReplay(t, clue = clue)
        // time travel: both forms fail alike (cleaned commits) or agree
        val latest = DeltaLog.latestVersion(spark, t)
        val v = pick.nextLong(latest + 1)
        val c = scala.util.Try(DeltaLog.snapshot(spark, t, Some(v)))
        val f = scala.util.Try(DeltaLog.replayUncached(spark, t, Some(v)))
        assert(c.isSuccess == f.isSuccess, s"$clue: v$v $c vs $f")
        if (c.isSuccess) assert(c.get == f.get, s"$clue: time travel v$v")
        // and back to the latest state after the time-travel read
        assertCachedEqualsReplay(t, clue = s"$clue (after v$v)")
      }
    }
    val (hits1, _) = DeltaLog.snapshotCacheCounts
    assert(hits1 - hits0 >= 30, s"only ${hits1 - hits0} cache hits: the " +
      "property ran mostly on full replays")
  }

  test("a table deleted and recreated at the same path is re-replayed") {
    val t = tmpTable()
    DeltaWrite.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), t)
    assert(DeltaLog.snapshot(spark, t).schema.fieldNames.toSeq == Seq("id", "s"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
    // the new 0.json has the old one's path but not its length or mtime;
    // no read may happen in between (the checksum writer would re-seed
    // the entry), so the next snapshot meets the stale entry head-on
    try {
      spark.conf.set("spark.graft.delta.writeChecksum", "false")
      DeltaWrite.write(Seq((10L, "x", 1.0)).toDF("key", "name", "w"), t)
    } finally spark.conf.unset("spark.graft.delta.writeChecksum")
    val v0 = DeltaLog.snapshot(spark, t)
    assert(v0.version == 0L)
    assert(v0.schema.fieldNames.toSeq == Seq("key", "name", "w"))
    assertCachedEqualsReplay(t)
    DeltaWrite.write(Seq((11L, "y", 2.0)).toDF("key", "name", "w"), t,
      SaveMode.Append)
    DeltaWrite.write(Seq((12L, "z", 3.0)).toDF("key", "name", "w"), t,
      SaveMode.Append)
    assertCachedEqualsReplay(t)
    assertCachedEqualsReplay(t, Some(0L))
    assert(DeltaLog.read(spark, t).as[(Long, String, Double)].collect()
      .map(_._1).sorted.toSeq == Seq(10L, 11L, 12L))
  }

  test("a tampered crc still trips the verifier on a cache hit") {
    val t = tmpTable()
    DeltaWrite.write(Seq((1, "a")).toDF("id", "s"), t)
    DeltaWrite.write(Seq((2, "b")).toDF("id", "s"), t, SaveMode.Append)
    val v = DeltaLog.latestVersion(spark, t)
    DeltaLog.snapshot(spark, t) // seeds the entry at v
    val p = new Path(DeltaLog.logDir(t), f"$v%020d.crc")
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
    out.write("""{"tableSizeBytes":1,"numFiles":999,"numMetadata":1,"numProtocol":1}"""
      .getBytes("UTF-8")); out.close()
    val (hits0, _) = DeltaLog.snapshotCacheCounts
    val e = intercept[IllegalStateException](DeltaLog.snapshot(spark, t))
    assert(DeltaLog.snapshotCacheCounts._1 == hits0 + 1,
      "the tampered read must be served from the cache")
    assert(e.getMessage.contains("checksum mismatch"))
    assert(e.getMessage.contains("numFiles"))
    // time travel to the un-tampered version still works
    assert(DeltaLog.read(spark, t, versionAsOf = Some(v - 1)).count() == 1)
  }

  test("time travel below the cached version is a correct full replay, " +
    "and the newer entry survives it") {
    val t = tmpTable()
    DeltaWrite.write(Seq((1, "a")).toDF("id", "s"), t)
    (2 to 4).foreach(i =>
      DeltaWrite.write(Seq((i, s"r$i")).toDF("id", "s"), t, SaveMode.Append))
    DeltaDml.delete(spark, t, col("id") === 2)
    val latest = DeltaLog.snapshot(spark, t)
    assert(latest.version == 4L)
    assert(DeltaLog.read(spark, t).count() == 3)
    (0L to 3L).foreach { v =>
      val old = DeltaLog.snapshot(spark, t, Some(v))
      assert(old.version == v && old.files.size == v + 1)
      assertCachedEqualsReplay(t, Some(v))
    }
    val (hits0, replays0) = DeltaLog.snapshotCacheCounts
    assert(DeltaLog.snapshot(spark, t) == latest)
    assert(DeltaLog.snapshotCacheCounts == ((hits0 + 1, replays0)),
      "the latest read after time travel must be a cache hit")
  }

  /** Jobs the calling thread launches inside `body`. Jobs are tagged by
    * a thread-local property; a tagged sentinel job that the listener
    * must see last flushes the asynchronous listener bus. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        Option(e.properties).map(_.getProperty("graft.test.tag")) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(s) if s == s"$tag-sentinel" => done.countDown()
          case _ =>
        }
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

  test("cost: a warm re-read launches no job and opens no commit JSON; " +
    "a re-read after one commit opens exactly that commit") {
    val t = tmpTable()
    DeltaWrite.write(Seq((1, "a")).toDF("id", "s"), t)
    DeltaWrite.write(Seq((2, "b")).toDF("id", "s"), t, SaveMode.Append)
    DeltaWrite.checkpoint(spark, t)
    DeltaWrite.write(Seq((3, "c")).toDF("id", "s"), t, SaveMode.Append)
    DeltaWrite.write(Seq((4, "d")).toDF("id", "s"), t, SaveMode.Append)
    // the same table under the counting scheme: its own cache entry
    val ct = s"countfs://$t"

    CountingLocalFs.commitOpens.set(0)
    val (cold, coldJobs) = jobsDuring(DeltaLog.snapshot(spark, ct))
    assert(cold.version == 3L && cold.files.size == 4)
    assert(coldJobs > 0, "control: the cold read replays the checkpoint")
    assert(CountingLocalFs.commitOpens.get == 2, "control: cold tail = v2, v3")

    CountingLocalFs.commitOpens.set(0)
    val (warm, warmJobs) = jobsDuring(DeltaLog.snapshot(spark, ct))
    assert(warm == cold)
    assert(warmJobs == 0, s"warm re-read launched $warmJobs jobs")
    assert(CountingLocalFs.commitOpens.get == 0,
      s"warm re-read opened ${CountingLocalFs.commitOpens.get} commit JSONs")

    DeltaWrite.write(Seq((5, "e")).toDF("id", "s"), t, SaveMode.Append)
    CountingLocalFs.commitOpens.set(0)
    val (next, nextJobs) = jobsDuring(DeltaLog.snapshot(spark, ct))
    assert(next.version == 4L && next.files.size == 5)
    assert(nextJobs == 0, s"incremental re-read launched $nextJobs jobs")
    assert(CountingLocalFs.commitOpens.get == 1,
      s"incremental re-read opened ${CountingLocalFs.commitOpens.get} commit JSONs")
    assert(next == DeltaLog.replayUncached(spark, ct))
  }
}

/** The local file system under the `countfs` scheme, counting opens of
  * commit JSONs (`_delta_log/<20 digits>.json`). */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getParent != null && f.getParent.getName == "_delta_log" &&
        f.getName.matches("""\d{20}\.json"""))
      CountingLocalFs.commitOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val commitOpens = new AtomicInteger
}
