package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One run of one workload, driven by perfbench/run.py:
  *
  * {{{
  * Harness <workload> <seed> <seconds> <trace 0|1> <fixtures dir> <work dir> <out dir>
  * }}}
  *
  * Sets the session up five times (the last one is kept), then issues the
  * workload's operations from one client in a closed loop: rounds of
  * seeded operations until `seconds` of loop time have passed and at
  * least two rounds (three when traced) are done. Writes everything it measured to
  * `<out dir>/raw.json`; run.py turns that into metrics and checks the
  * outputs. With trace 1 it also records, in every other round, spans
  * around each public call and the jobs and stages Spark ran for them;
  * the rounds in between run untraced and give the tracing overhead. */
object Harness {
  private val SetupRepeats = 5

  final case class OpRec(id: Int, name: String, kind: String, round: Int,
      start: Long, end: Long, ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, fixtures, work, out) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val calibPre = Calibration.run(cpus)

    // set-up: session ready and fixtures resolved, several times
    val workload = Workload(wlName)
    val setupSec = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    (1 to SetupRepeats).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.build(cpus, work)
      workload.resolve(new Ctx(spark, new Tracer(false, spark.sparkContext),
        fixtures, work, 0L, cpus))
      setupSec += (System.nanoTime() - t0) / 1e9
    }
    val processToReadyMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime

    val listener = new ExecListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(false, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, fixtures, work, seedS.toLong, cpus)
    workload.resolve(ctx)
    workload.prepare(ctx)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum

    val ops = mutable.ArrayBuffer[OpRec]()
    val loopStart = Clock.now()
    var round = 0
    val minRounds = if (trace) 3 else 2
    while (round < minRounds || (Clock.now() - loopStart) / 1e9 < seconds) {
      tracer.enabled = trace && round % 2 == 1
      // the cold round runs in list order, so the JVM's own warm-up lands
      // on the same operation in every run; later rounds are shuffled
      val specs = workload.round(ctx, round)
      (if (round == 0) specs else ctx.rng.shuffle(specs)).foreach { spec0 =>
        val spec = workload.before(ctx, spec0)
        val id = ops.size
        val t0 = Clock.now()
        val (ok, err) =
          try tracer.operation(id, spec.name)((workload.run(ctx, spec), ""))
          catch { case e: Throwable =>
            (false, s"${e.getClass.getName}: ${e.getMessage}".take(2000))
          }
        val t1 = Clock.now()
        ops += OpRec(id, spec.name, spec.kind, round, t0, t1, ok, err)
        if (!ok) System.err.println(s"[perfbench] op $id ${spec.name} failed: $err")
        workload.after(ctx, spec)
      }
      round += 1
    }
    val loopEnd = Clock.now()
    tracer.enabled = false
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val checks = workload.finish(ctx, out)
    drainBus(spark)
    val confs = Session.effectiveConfs(spark)
    spark.stop()
    val calibPost = Calibration.run(cpus)

    val raw = Map(
      "workload" -> wlName, "seed" -> seedS.toLong, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus, "confs" -> confs,
      "setup_s" -> setupSec.toSeq, "process_to_ready_ms" -> processToReadyMs,
      "calibration" -> Map("pre" -> calibPre, "post" -> calibPost),
      "loop" -> Map("start" -> loopStart, "end" -> loopEnd, "rounds" -> round),
      "ops" -> ops.toSeq.map(o => Map("id" -> o.id, "name" -> o.name,
        "kind" -> o.kind, "round" -> o.round, "start" -> o.start, "end" -> o.end,
        "ok" -> o.ok, "error" -> o.error)),
      "jvm" -> Map("gc_ms" -> gcMs, "heap_peak_mb" -> heapPeakMb,
        "vm_hwm_mb" -> vmHwmMb()),
      "spans" -> tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "counters" -> tracer.counters.toSeq.map { case ((op, n), v) =>
        Map("op" -> op, "name" -> n, "value" -> v) },
      "jobs" -> listener.jobList.map(j => Map("job" -> j.jobId, "op" -> j.op,
        "span" -> j.span, "stages" -> j.stageIds)),
      "stages" -> listener.stageList.map(s => Map("stage" -> s.stageId,
        "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs, "tasks" -> s.tasks,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "gc_ms" -> s.gcMs)),
      "checks" -> checks)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new java.io.File(out, "raw.json"), raw)
  }

  /** Listener events arrive asynchronously; wait until they are all in. */
  private def drainBus(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(30000L))
      ()
    } catch { case _: Throwable => Thread.sleep(500) }

  /** Peak resident set size of this process (VmHWM), in MiB. */
  private def vmHwmMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    }.getOrElse(-1.0)
}

/** Host-drift context: a fixed CPU-bound loop timed on one thread and on
  * `cpus` threads at once. Multi-core degradation shows in the second
  * while the first stays calm. */
object Calibration {
  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def run(cpus: Int): Map[String, Double] = {
    def timed(threads: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map(_ => new Thread(() => { if (spin() == 0L) print("") }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    timed(1) // warm the JIT
    Map("calib_1t_ms" -> timed(1), "calib_nt_ms" -> timed(cpus))
  }
}
