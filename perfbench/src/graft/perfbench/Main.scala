package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.engine.{GraftSession, Tables}
import graft.operators._

/** Benchmark entry point: one workload, one seed, one JVM. Writes
  * `result.json` (and with tracing on, `spans.jsonl`) into the output
  * directory; `perfbench/run.py` prints the result line.
  *
  * Usage: graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <sfDir> <outDir> <expected.tsv> [record]
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      traced: Boolean, sfDir: String, outDir: Path, expected: Path,
      record: Boolean)

  /** Ops of each Spark workload: subsets of the relational and of the
    * streaming and staged-write queries, chosen by measurement so that
    * their profile matches the full sets' (see perfbench/README.md). */
  val workloads: Map[String, Seq[String]] = Map(
    "floor" -> Seq("q03_join_revenue_by_nation", "q25_topk_orders",
      "q31_first_last_value", "q33_string_functions", "q147_excess_suppliers"),
    "incremental" -> Seq("q58_stream_watermark_append",
      "q60_stream_stateful_counter", "q79_stream_dedup",
      "q168_stream_rocksdb_state", "q162_incremental_job_pipeline"))

  /** Untimed passes between set-up and the timed passes: an op's first
    * runs in a JVM are mostly one-time class loading, code generation and
    * JIT compilation, and land on whichever op the seed puts first. */
  val warmPasses = 1

  /** Timed passes a run makes at least, however short `--seconds` is.
    * With seven floor passes, the tail sample (the eleventh slowest) is
    * the middle one of the second-slowest op's seven, not an extreme, so
    * one slow call cannot move it. */
  val minPasses: Map[String, Int] = Map("floor" -> 7).withDefaultValue(1)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), Paths.get(argv(5)), Paths.get(argv(6)),
      argv.length > 7 && argv(7) == "record")
    Files.createDirectories(a.outDir)
    // exit explicitly either way: Spark leaves non-daemon threads behind
    // on some failure paths
    try {
      val res =
        if (a.workload == "kernels") KernelBench.run(a)
        else new SparkBench(a).run()
      Files.writeString(a.outDir.resolve("result.json"), res.json)
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }
}

/** Numbers one run reports: `e2e` as (name, value, unit), `layers` by
  * name (units from [[Layers]]). */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
    e2e: Seq[(String, Double, String)], layers: Map[String, Double],
    info: Seq[(String, String)]) {
  private def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
  def json: String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${metrics(e2e)},"layers":${metrics(Layers.all(layers))},""" +
      info.map { case (k, v) => s""""$k":"$v"""" }.mkString(""""info":{""", ",", "}") +
      "}\n"
}

/** Process-level probes shared by both kinds of run. */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def startMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum / 1e3
  def allocBytes: Long = threads.getTotalThreadAllocatedBytes
  def threadAlloc: Long = threads.getCurrentThreadAllocatedBytes
  def threadsPeak: Double = threads.getPeakThreadCount.toDouble
  def classesLoaded: Double =
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Latency at the highest percentile with at least ten samples beyond
    * it; runs with fewer than 21 ops fall back to the 90th percentile
    * (nearest rank). Returns (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n >= 21) (s(n - 11), 100.0 * (n - 10) / n, n)
    else {
      val k = math.max(0, math.ceil(0.9 * n).toInt - 1)
      (s(k), 90.0, n)
    }
  }

  /** End-to-end metrics over the timed phase. `passes` normalises wall
    * and CPU time to one pass over the workload's ops. */
  def e2e(setupS: Double, wallS: Double, cpuS: Double, passes: Int,
      latencies: Seq[Double]): (Seq[(String, Double, String)], Seq[(String, String)]) = {
    val (t, pct, n) = tail(latencies)
    (Seq(("setup_s", setupS, "s"), ("wall_s", wallS / passes, "s"),
      ("op_p50_s", median(latencies), "s"), ("op_tail_s", t, "s"),
      ("cpu_s", cpuS / passes, "s"), ("peak_rss_mb", peakRssMb, "MB")),
      Seq("op_tail_percentile" -> f"$pct%.1f", "op_samples" -> n.toString,
        "passes" -> passes.toString))
  }
}

/** Order-insensitive content digest of a result: per row, a hash of every
  * column value in order; rows summed. Doubles are compared at nine
  * significant digits so a change in summation order cannot flip it. */
object Digest {
  import scala.util.hashing.MurmurHash3.{finalizeHash, mix}

  private val nine = new java.math.MathContext(9)

  def value(v: Any): Int = v match {
    case null => 0x5bd1e995
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: Array[Byte] => java.util.Arrays.hashCode(b)
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(value(k), value(x)) }.sum
    case s: Iterable[_] =>
      var h = 0x1b873593
      s.foreach(x => h = mix(h, value(x)))
      finalizeHash(h, s.size)
    case t: java.sql.Timestamp => (t.getTime * 1000000L + t.getNanos % 1000000).##
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString.hashCode
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString.hashCode
    case x => x.toString.hashCode
  }

  private def double(d: Double): Int =
    if (d.isNaN || d.isInfinite) d.toString.hashCode
    else if (d == 0.0) 0
    else new java.math.BigDecimal(d).round(nine).stripTrailingZeros
      .toPlainString.hashCode

  def row(r: Row): Int = {
    var h = 0x3c6ef372
    var i = 0
    while (i < r.length) { h = mix(h, value(r.get(i))); i += 1 }
    finalizeHash(h, r.length)
  }
}

/** Expected (rows, digest) per op, recorded from a tree that passes the
  * DuckDB oracle at the same scale. */
object Expected {
  def load(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(f => f(0) -> (f(1).toLong, f(2))).toMap
}

/** One timed op of a Spark workload. */
final case class OpResult(name: String, ok: Boolean, wallS: Double,
    buildS: Double, consumeS: Double, rows: Long, digest: String,
    counters: OpCounters, pinned: Int, buildJobs: Int)

final class SparkBench(a: Main.Args) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private val ops = Main.workloads(a.workload)
  private val expected = Expected.load(a.expected)
  private val probes = new Probes
  private val spans = new SpanStore
  private val opTimeoutMs = 60000L
  // stop issuing ops past this point so the process ends in time
  private val deadlineMs = Jvm.startMs + 140000.0
  private var spark: SparkSession = _

  private def buildSession(): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", shufflePartitions = cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.muteLocalCheckpointUnpersistWarn()
    if (a.traced) {
      s.sparkContext.addSparkListener(probes)
      s.listenerManager.register(probes.sql)
      s.streams.addListener(probes.streams)
    }
    s
  }

  /** `Bench.runOne`'s hygiene: nothing cached, pinned or staged by an
    * earlier op may change the work a later op does. */
  private def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_bkt_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** Reads every row and column of `df` (nothing can be pruned) and
    * returns (rows, digest). */
  private def consume(df: DataFrame): (Long, String) = {
    val sc = spark.sparkContext
    val rows = sc.longAccumulator
    val sum = sc.longAccumulator
    val f: Iterator[Row] => Unit = it => {
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += Digest.row(r) & 0xffffffffL }
      rows.add(n)
      sum.add(h)
    }
    df.foreachPartition(f)
    val schema = df.schema.fieldNames.mkString(",").hashCode & 0xffffffffL
    (rows.value.longValue, java.lang.Long.toHexString(sum.value * 31 + schema))
  }

  /** Runs one op; `idx` < 0 marks an untimed set-up run, which is
    * checked but leaves no spans. */
  private def runOp(idx: Int, name: String): OpResult = {
    val sc = spark.sparkContext
    hygiene()
    if (a.traced) {
      org.apache.spark.PerfbenchBus.drain(sc)
      probes.current = new OpCounters
    }
    val c = probes.current
    val fn = SparkEntry.queries(name)
    @volatile var buildEnd = Double.NaN
    @volatile var out: Either[Throwable, (Long, String)] =
      Left(new java.util.concurrent.TimeoutException(s"over ${opTimeoutMs / 1000}s"))
    val group = s"perfbench-$idx"
    val t0 = Clock.nowMs
    val worker = new Thread(() => {
      try {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        val df = fn(spark, a.sfDir)
        buildEnd = Clock.nowMs
        out = Right(consume(df))
      } catch { case t: Throwable => out = Left(t) }
      finally sc.clearJobGroup()
    }, s"perfbench-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join(opTimeoutMs)
    if (worker.isAlive) {
      sc.cancelJobGroup(group)
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      worker.interrupt()
      worker.join(20000)
    }
    val t2 = Clock.nowMs
    val b = if (buildEnd.isNaN) t2 else buildEnd
    val pinned = if (a.traced) sc.getPersistentRDDs.size else 0
    if (a.traced) {
      org.apache.spark.PerfbenchBus.drain(sc)
      probes.current = new OpCounters
    }
    val (ok, rows, digest, err) = out match {
      case Right((r, d)) =>
        val good = a.record || expected.get(name).contains((r, d))
        (good, r, d, if (good) "" else s"expected ${expected.get(name)} got ($r,$d)")
      case Left(t) => (false, -1L, "", s"${t.getClass.getSimpleName}: ${t.getMessage}")
    }
    if (!ok) System.err.println(s"[perfbench] FAIL $name: $err")
    val buildJobs = c.jobSpans.count(_._2 < b)
    if (a.traced && idx >= 0) {
      val root = spans.add(-1, idx, "op", t0, t2, Seq("ok" -> (if (ok) 1.0 else 0.0)))
      val bs = spans.add(root, idx, "operators.build", t0, b)
      val cs = spans.add(root, idx, "operators.consume", b, t2)
      val jobSpan = c.jobSpans.map { case (id, s, e) =>
        id -> spans.add(if (s < b) bs else cs, idx, "exec.job", s, e,
          Seq("job_id" -> id.toDouble))
      }.toMap
      c.stageSpans.foreach { case (id, job, s, e, n) =>
        spans.add(jobSpan.getOrElse(job, root), idx, "exec.stage", s, e,
          Seq("stage_id" -> id.toDouble, "tasks" -> n.toDouble))
      }
      c.batchSpans.foreach { case (s, e, id) =>
        spans.add(if (s < b) bs else cs, idx, "streaming.batch", s, e,
          Seq("batch_id" -> id.toDouble))
      }
    }
    OpResult(name, ok, (t2 - t0) / 1e3, (b - t0) / 1e3, (t2 - b) / 1e3,
      rows, digest, c, pinned, buildJobs)
  }

  def run(): Result = {
    // set-up: from JVM start to the first timed op, warm pass included
    val b0 = Clock.nowMs
    spark = buildSession()
    val sessionS = (Clock.nowMs - b0) / 1e3
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val tableMs = Tables.all.map { t =>
      val l0 = System.nanoTime()
      Tables.load(spark, a.sfDir, t)
      (System.nanoTime() - l0) / 1e6
    }
    val f0 = Clock.nowMs
    var warmFailed = 0
    if (!a.record) for (_ <- 0 until Main.warmPasses)
      warmFailed += ops.count(n => !runOp(-1, n).ok)
    val firstRunS = (Clock.nowMs - f0) / 1e3
    val setupS = (Clock.nowMs - Jvm.startMs) / 1e3
    // the environment probe costs seconds per run, so only the traced
    // run (which reports it) takes it
    val calibStart = if (a.traced) Calib.run(spark) else Double.NaN

    System.gc()
    val results = mutable.ArrayBuffer.empty[OpResult]
    val rnd = new scala.util.Random(a.seed)
    val gc0 = Jvm.gcS
    val alloc0 = Jvm.allocBytes
    val cpu0 = Jvm.cpuS
    val w0 = Clock.nowMs
    // wall and CPU time cover complete passes only; an op the deadline
    // cuts off counts as attempted and failed
    var passes = 0
    var skipped = 0
    var wallS = 0.0
    var cpuS = 0.0
    var idx = 0
    do {
      val order = if (a.record) ops.sorted else rnd.shuffle(ops)
      order.foreach { n =>
        if (Clock.nowMs < deadlineMs) { results += runOp(idx, n); idx += 1 }
        else {
          skipped += 1
          System.err.println(s"[perfbench] FAIL $n: not run, past the run's deadline")
        }
      }
      if (skipped == 0) {
        passes += 1
        wallS = (Clock.nowMs - w0) / 1e3
        cpuS = Jvm.cpuS - cpu0
      }
    } while (!a.record && skipped == 0 && Clock.nowMs < deadlineMs &&
      (passes < Main.minPasses(a.workload) || (Clock.nowMs - w0) / 1e3 < a.seconds))
    val gcS = Jvm.gcS - gc0
    val allocMb = (Jvm.allocBytes - alloc0) / 1048576.0
    val calibEnd = if (a.traced) Calib.run(spark) else Double.NaN
    val perPass = math.max(1, passes)

    if (a.record) {
      val lines = results.filter(_.digest.nonEmpty).sortBy(_.name)
        .map(r => s"${r.name}\t${r.rows}\t${r.digest}")
      Files.write(a.expected, (s"# ${a.workload}: name, rows, digest" +: lines).asJava)
    }
    val failed = results.count(!_.ok) + warmFailed + skipped
    val attempted = results.size + skipped +
      (if (a.record) 0 else Main.warmPasses * ops.size)
    val failRatio = failed.toDouble / math.max(1, attempted)
    val (e2e, info) = Jvm.e2e(setupS, wallS, cpuS, perPass,
      results.map(_.wallS).toSeq)
    val layers =
      if (!a.traced) Map.empty[String, Double]
      else sparkLayers(results.toSeq, perPass, sessionS,
        Jvm.median(tableMs), firstRunS, gcS, allocMb, calibStart, calibEnd,
        failRatio)
    if (a.traced) {
      spans.writeJson(a.outDir.resolve("spans.jsonl"))
      writeOps(results.toSeq)
    }
    val selfInfo = if (a.traced) spans.selfInfo(perPass) else Nil
    spark.stop()
    Result(failed == 0 && passes > 0, attempted, failed, e2e, layers,
      info ++ Seq("fail_ratio" -> f"$failRatio%.4f",
        "env.calib_s" -> f"$calibStart%.4f", "env.calib_end_s" -> f"$calibEnd%.4f",
        "first_run_s" -> f"$firstRunS%.3f") ++ selfInfo)
  }

  /** Per-op record of the traced run: the counts the determinism test
    * compares across seeds. */
  private def writeOps(rs: Seq[OpResult]): Unit = {
    val lines = rs.map { r =>
      val c = r.counters
      s"""{"op":"${r.name}","ok":${r.ok},"wall_s":${r.wallS},"build_s":${r.buildS},""" +
        s""""consume_s":${r.consumeS},"rows":${r.rows},"jobs":${c.jobs},""" +
        s""""build_jobs":${r.buildJobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""batches":${c.batches},"pinned_rdds":${r.pinned},""" +
        s""""task_run_ms":${c.taskRunMs},"shuffle_bytes":${c.shuffleWrite},""" +
        s""""add_batch_ms":${c.addBatchMs},"wal_commit_ms":${c.walCommitMs},""" +
        s""""commit_offsets_ms":${c.commitOffsetsMs},""" +
        s""""state_commit_ms":${c.stateCommitMs}}"""
    }
    Files.write(a.outDir.resolve("ops.jsonl"), lines.asJava)
  }

  private def sparkLayers(rs: Seq[OpResult], passes: Int, sessionS: Double,
      tableMs: Double, firstRunS: Double, gcS: Double, allocMb: Double,
      calibStart: Double, calibEnd: Double,
      failRatio: Double): Map[String, Double] = {
    val p = passes.toDouble
    def sum(f: OpCounters => Long): Double = rs.map(r => f(r.counters)).sum / p
    val mb = 1048576.0
    // wall time with at least one job running, per op
    val jobS = rs.map { r =>
      val iv = r.counters.jobSpans.map(j => (j._2, j._3)).sortBy(_._1)
      var tot = 0.0; var lo = 0.0; var hi = -1.0
      iv.foreach { case (s, e) =>
        if (hi < 0 || s > hi) { if (hi >= 0) tot += hi - lo; lo = s; hi = e }
        else hi = math.max(hi, e)
      }
      if (hi >= 0) tot += hi - lo
      tot / 1e3
    }.sum / p
    val taskRunS = sum(_.taskRunMs) / 1e3
    val batches = rs.flatMap(_.counters.batchMs)
    val q162 = rs.filter(_.name == "q162_incremental_job_pipeline")
    Seq(
      ("engine.session_build_s", sessionS),
      ("engine.tables_load_ms", tableMs),
      ("engine.pinned_rdds", rs.map(_.pinned).sum / p),
      ("operators.first_run_s", firstRunS),
      ("operators.build_s", rs.map(_.buildS).sum / p),
      ("operators.build_jobs", rs.map(_.buildJobs).sum / p),
      ("operators.consume_s", rs.map(_.consumeS).sum / p),
      ("sql.analysis_ms", sum(_.analysisMs)),
      ("sql.optimization_ms", sum(_.optimizationMs)),
      ("sql.planning_ms", sum(_.planningMs)),
      ("sql.actions", sum(_.actions)),
      ("exec.jobs", sum(_.jobs)),
      ("exec.stages", sum(_.stages)),
      ("exec.tasks", sum(_.tasks)),
      ("exec.job_s", jobS),
      ("exec.task_run_s", taskRunS),
      ("exec.task_cpu_s", sum(_.taskCpuNs) / 1e9),
      ("exec.task_deser_s", sum(_.taskDeserMs) / 1e3),
      ("exec.gc_s", sum(_.gcMs) / 1e3),
      ("exec.input_mb", sum(_.inputBytes) / mb),
      ("exec.core_util", if (jobS > 0) taskRunS / (jobS * cores) else 0.0),
      ("exec.peak_exec_mem_mb",
        rs.map(_.counters.peakExecMem).foldLeft(0L)(math.max) / mb),
      ("shuffle.write_mb", sum(_.shuffleWrite) / mb),
      ("shuffle.read_mb", sum(_.shuffleRead) / mb),
      ("shuffle.fetch_wait_s", sum(_.fetchWaitMs) / 1e3),
      ("shuffle.spill_disk_mb", sum(_.spillDisk) / mb),
      ("shuffle.spill_mem_mb", sum(_.spillMem) / mb),
      ("streaming.batches", sum(_.batches)),
      ("streaming.batch_ms_p50", Jvm.median(batches.toSeq)),
      ("streaming.add_batch_ms", sum(_.addBatchMs)),
      ("streaming.query_planning_ms", sum(_.queryPlanningMs)),
      ("streaming.wal_commit_ms", sum(_.walCommitMs)),
      ("streaming.commit_offsets_ms", sum(_.commitOffsetsMs)),
      ("streaming.state_commit_ms", sum(_.stateCommitMs)),
      ("streaming.state_rows", sum(_.stateRows)),
      ("streaming.state_mem_mb", sum(_.stateMemBytes) / mb),
      ("streaming.first_batch_ms",
        Jvm.median(rs.flatMap(_.counters.firstBatchMs))),
      ("jobs.q162_jobs", q162.map(_.counters.jobs).sum / p),
      ("jobs.q162_s", q162.map(_.buildS).sum / p),
      ("jvm.gc_s", gcS / p),
      ("jvm.alloc_mb", allocMb / p),
      ("jvm.threads_peak", Jvm.threadsPeak),
      ("jvm.classes_loaded", Jvm.classesLoaded),
      ("env.calib_s", calibStart),
      ("env.calib_end_s", calibEnd),
      ("fail_ratio", failRatio)).toMap
  }
}

/** Environment probe: `Bench.calibrate`'s fixed range aggregate over
  * no input. Reported, never gated on. */
object Calib {
  def run(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(40000000L)
        .selectExpr("id % 7 AS g", "id % 1000 AS v", "id % 97 AS w")
        .groupBy("g")
        .agg(org.apache.spark.sql.functions.expr("sum(v * w)"),
          org.apache.spark.sql.functions.expr("avg(v)"),
          org.apache.spark.sql.functions.expr("count(distinct w)"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
  }

  /** In a session of its own, stopped before returning; the first run
    * only warms the fresh session. */
  def measure(): Double = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cores]", shufflePartitions = cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try { run(spark); run(spark) } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}

/** Every per-layer metric with its unit. A traced run reports all of
  * them; a layer the workload does not reach reads 0. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "engine.session_build_s" -> "s", "engine.tables_load_ms" -> "ms",
    "engine.pinned_rdds" -> "count",
    "operators.first_run_s" -> "s",
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "operators.consume_s" -> "s",
    "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms",
    "sql.planning_ms" -> "ms", "sql.actions" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_s" -> "s", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.task_deser_s" -> "s", "exec.gc_s" -> "s", "exec.input_mb" -> "MB",
    "exec.core_util" -> "ratio", "exec.peak_exec_mem_mb" -> "MB",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_disk_mb" -> "MB",
    "shuffle.spill_mem_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_mb" -> "MB", "streaming.first_batch_ms" -> "ms",
    "jobs.q162_jobs" -> "count", "jobs.q162_s" -> "s") ++
    Kernels.codecs.flatMap(c => Seq(s"kernel.$c.mb_per_s" -> "MB/s",
      s"kernel.$c.alloc_per_byte" -> "B/B")) ++ Seq(
    "jvm.gc_s" -> "s", "jvm.alloc_mb" -> "MB", "jvm.threads_peak" -> "count",
    "jvm.classes_loaded" -> "count",
    "env.calib_s" -> "s", "env.calib_end_s" -> "s", "fail_ratio" -> "ratio")

  def all(values: Map[String, Double]): Seq[(String, Double, String)] =
    if (values.isEmpty) Nil
    else units.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
}
