package graft.streaming

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

import graft.operators.QueryDef

/** Structured Streaming surface (SURVEY.md §2 Table B streaming rows,
  * §7 M4).
  *
  * The reference's only "streaming" is `hold_state`: a per-file seen-set
  * so re-runs process only new files (/root/reference/mapper.py:110-143),
  * with arrival-time-only semantics and silent loss of late data inside
  * old files. Structured Streaming's file source + checkpoint reproduces
  * that exactly-once file tracking (q55 runs the stream TWICE against one
  * checkpoint to prove nothing reprocesses), and then adds everything the
  * reference cannot express: event-time tumbling/sliding/session windows,
  * watermarks with a defined late-data contract, and arbitrary keyed
  * state.
  *
  * Every query here executes a real streaming job with
  * Trigger.AvailableNow (the batch-style catch-up trigger), lands the
  * sink, and returns the result as a static frame so the driver's DuckDB
  * oracle can hash-compare it.
  *
  * Scale posture: streaming state lives in the state store partitioned by
  * the grouping key (same hash shuffle as batch agg); watermarks bound
  * state size — without one, per-window state grows forever, which is the
  * 100 TB failure mode the reference sidesteps by never looking back.
  */
/** Per-user running (count, min, max) held in a named ValueState cell —
  * the transformWithState (state v2) form of q60's logic. Emits the
  * running stats after each input batch for the key. */
private[streaming] class RunningStatsProcessor
    extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double, Double)] {
  @transient private var stats: ValueState[(Long, Double, Double)] = _

  // TTLConfig.NONE: state grows with the key domain (users), acceptable
  // for a bounded domain. For unbounded domains at scale, pass
  // TTLConfig(Duration) with TimeMode.ProcessingTime and the store
  // evicts idle keys — not exercised here because processing-time TTL
  // cannot fire deterministically under a single AvailableNow batch.
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    stats = getHandle.getValueState[(Long, Double, Double)]("stats",
      Encoders.product[(Long, Double, Double)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[(Long, Long, Double, Double)] = {
    val (n0, mn0, mx0) =
      if (stats.exists()) stats.get()
      else (0L, Double.MaxValue, Double.MinValue)
    var n = n0; var mn = mn0; var mx = mx0
    rows.foreach { case (_, v) =>
      n += 1; mn = math.min(mn, v); mx = math.max(mx, v)
    }
    stats.update((n, mn, mx))
    Iterator.single((key, n, mn, mx))
  }
}

/** Event-time TIMER processor: per user, hold (count, max event-time) and
  * keep one timer armed at max_ts + 1 hour; when the WATERMARK passes it,
  * emit the closed session summary and drop the state. The "emit on
  * silence" primitive — session closure, SLA breach, abandoned-cart —
  * that polling-based engines (the reference's 7 s scheduler loop) can
  * only approximate. closed_at is computed from state micros, not the
  * ms-granular timer, so the emission is exact event-time + 1 h.
  * Sentinel keys (negative ids, the flush punctuation) update no state
  * and arm no timers. */
private[streaming] class SessionCloseProcessor
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  @transient private var st: ValueState[(Long, Long)] = _ // (n, maxUs)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("sess",
      Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    if (key < 0) return Iterator.empty // flush sentinels carry no session
    val (n0, mx0) = if (st.exists()) st.get() else (0L, Long.MinValue)
    var n = n0; var mx = mx0
    rows.foreach { case (_, us) => n += 1; mx = math.max(mx, us) }
    if (mx0 != Long.MinValue)
      getHandle.deleteTimer(mx0 / 1000 + 3600000 + 1)
    st.update((n, mx))
    // ceil to ms so the timer never fires BEFORE event-time max + 1h
    getHandle.registerTimer(mx / 1000 + 3600000 + 1)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Long, Long)] = {
    val out = if (st.exists()) {
      val (n, mx) = st.get()
      Iterator.single((key, n, mx + 3600000000L))
    } else Iterator.empty
    st.clear()
    out
  }
}

object StreamingQueries {

  // checkpoint/staging dirs live under the per-pid scratch root
  // (tmpfs-preferred): on this box /tmp is ext4 mounted with inline
  // discard, where the hundreds of tiny checkpoint files a stream
  // writes (and the harness deletes) each pay a synchronous TRIM. The
  // root is swept by the next session once this JVM dies, so tmpfs
  // pages cannot accumulate across runs.
  private def tmp(prefix: String): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get(graft.engine.GraftSession.scratchRoot),
      prefix).toString

  /** Stage N sequential arrival batches with ONE corpus pass (guide
    * §2.4 — the per-batch `filter(...).write` pattern this replaces
    * re-scanned the input once per arrival): rows are written once,
    * partitioned by a precomputed `_b` column (0..n-1, must cover every
    * row), and delivering arrival k is a file RENAME into `inputDir` —
    * the same write-then-rename atomic-visibility contract the A4
    * operator documents, so the stream source can never observe a
    * half-delivered batch. File contents per arrival are identical to
    * the per-batch writes (partitionBy drops `_b` from the files, so
    * each file carries exactly the payload columns); names gain a
    * `b<k>_` prefix because one staging task writes an identically
    * named part file into every `_b=` directory. Returns deliver(k). */
  private def stageArrivals(withBatchCol: DataFrame,
      inputDir: String): Int => Unit = {
    val staging = tmp("arrstage_")
    withBatchCol.write.mode("overwrite").partitionBy("_b").parquet(staging)
    val s = withBatchCol.sparkSession
    val payloadSchema = org.apache.spark.sql.types.StructType(
      withBatchCol.schema.filterNot(_.name == "_b"))
    val dst = new org.apache.hadoop.fs.Path(inputDir)
    val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(dst)
    (k: Int) => {
      val src = new org.apache.hadoop.fs.Path(staging, s"_b=$k")
      val moved =
        if (!fs.exists(src)) 0
        else fs.listStatus(src).iterator
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map { st =>
            // rename reports failure by returning false: a dropped
            // file would silently lose the arrival's rows, so fail
            val to = new org.apache.hadoop.fs.Path(dst, s"b${k}_${st.getPath.getName}")
            if (!fs.rename(st.getPath, to))
              throw new java.io.IOException(
                s"arrival $k: could not move ${st.getPath} to $to")
          }.size
      // an EMPTY batch must still deliver one schema-bearing empty file:
      // the per-batch write pattern this replaces did (Spark writes one
      // empty part file for an empty frame), and the arrival's fold —
      // hence the state VERSION SEQUENCE a drift series reads — depends
      // on the stream source seeing a new file per arrival
      if (moved == 0)
        s.createDataFrame(java.util.Collections.emptyList[
            org.apache.spark.sql.Row](), payloadSchema)
          .repartition(1).write.mode("append").parquet(inputDir)
    }
  }

  /** Streaming view of the events table (schema taken from the batch
    * reader; ts arrives as nanos-long, converted to micros like
    * Tables.load).
    *
    * The streaming file source watches a DIRECTORY of arriving files —
    * the same model as the reference's input_dirs
    * (/root/reference/mapper.py:75-85) — but the fixture is one flat
    * parquet file, so it is staged (hard-linked) into a temp source dir
    * once per (jvm, sf). */
  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stage a parquet fixture into a stream-source dir: the driver's
    * fixtures are single flat FILES (one hard link), but generated sfN
    * fixtures are Spark-written DIRECTORIES — link every part file, or
    * the source dir stages empty and the stream produces zero batches
    * (the round-12 sf1 gate caught exactly that). Links preserve the
    * original mtimes, so later-appended sentinel files still sort
    * after every staged part in the file source's processing order. */
  private def stageParquet(path: String, d: java.nio.file.Path): Unit = {
    val src = java.nio.file.Paths.get(path)
    val parts: Seq[java.nio.file.Path] =
      if (Files.isDirectory(src)) {
        import scala.jdk.CollectionConverters._
        val ls = Files.list(src)
        try ls.iterator().asScala.filter(
          _.getFileName.toString.endsWith(".parquet")).toList.sorted
        finally ls.close()
      } else Seq(src)
    parts.zipWithIndex.foreach { case (f, i) =>
      val target = d.resolve(f"events-$i%03d.parquet")
      try Files.createLink(target, f)
      catch { case _: Exception => Files.copy(f, target) }
    }
  }

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val srcDir = staged.getOrElseUpdate(path, {
      val d = Files.createTempDirectory("events_src_")
      stageParquet(path, d)
      d.toString
    })
    val schema = s.read.parquet(path).schema
    val raw = s.readStream.schema(schema).parquet(srcDir)
    // same ts contract as batch: nanos-long / NTZ-micros / timestamp all
    // normalize to TimestampType before any watermark is applied
    graft.engine.Tables.normalizeEventTime(raw)
  }

  private val stagedFlush = scala.collection.concurrent.TrieMap.empty[String, String]

  /** eventsStream plus TWO far-future sentinel rows (event_type 'flush',
    * negative ids, ts = max + 30/60 days), read one file per micro-batch.
    * Stream-stream OUTER joins emit their unmatched (null-padded) rows
    * only when the watermark passes a row's state-eviction deadline —
    * and the watermark a batch RUNS with is the one computed at the END
    * of the previous batch, with no trailing no-data batch under
    * Trigger.AvailableNow. One sentinel therefore isn't enough: it
    * advances the watermark, but no later batch runs to apply it, and
    * every row in the stream's last watermark-delay window stays locked
    * in state. Two sentinels in separate batches (maxFilesPerTrigger=1)
    * fix that deterministically: the second sentinel's batch executes
    * with the first sentinel's watermark, evicting every real row. The
    * bounded run then emits exactly the batch join semantics (minus the
    * sentinels, which consumers filter out via id < 0). This mirrors the
    * punctuation/heartbeat pattern a production feed uses to close out
    * quiet partitions. */
  private def eventsStreamWithFlush(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val srcDir = stagedFlush.getOrElseUpdate(path, {
      val d = Files.createTempDirectory("events_srcflush_")
      // the flush contract is ONE data micro-batch then the sentinel
      // batches: watermark-sensitive consumers (stream-stream OUTER
      // joins, event timers) rely on no data arriving after a
      // sentinel has advanced the watermark. A directory-shaped
      // fixture (generated sfN) must therefore stage as a SINGLE
      // coalesced file — linking its 32 parts made rows "late" behind
      // the sentinel batches at sf1 and the outer joins dropped them.
      val src = java.nio.file.Paths.get(path)
      if (Files.isDirectory(src))
        s.read.parquet(path).coalesce(1)
          .write.mode("append").parquet(d.toString)
      else stageParquet(path, d)
      // pin the processing order EXPLICITLY: the file source orders by
      // modification time, and on coarse-mtime filesystems (1 s
      // granularity) the data write and the sentinel writes can tie —
      // a sentinel processed first advances the watermark past every
      // real row. Stamp each staging stage with its own second.
      val t0 = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000L)
      def stampNew(t: java.nio.file.attribute.FileTime,
          seen: Set[java.nio.file.Path]): Set[java.nio.file.Path] = {
        val ls = Files.list(d)
        val all = try {
          import scala.jdk.CollectionConverters._
          ls.iterator().asScala.toSet
        } finally ls.close()
        (all -- seen).foreach(f => Files.setLastModifiedTime(f, t))
        all
      }
      var stamped = stampNew(t0, Set.empty)
      val base = s.read.parquet(path)
      val isLongTs =
        base.schema("ts").dataType == org.apache.spark.sql.types.LongType
      def sentinel(days: Int, id: Long) = {
        val bump = // +days, in the file's native ts representation
          if (isLongTs) expr(s"ts + ${days.toLong * 86400000000000L}L")
          else expr(s"ts + INTERVAL $days DAYS")
        base.orderBy(desc("ts")).limit(1)
          .withColumn("ts", bump)
          .withColumn("event_id", lit(id))
          .withColumn("user_id", lit(id))
          .withColumn("event_type", lit("flush"))
          .select(base.columns.map(col): _*)
      }
      // two separate write jobs -> two files -> two micro-batches,
      // each stamped one second after the previous stage
      sentinel(30, -1L).coalesce(1).write.mode("append").parquet(d.toString)
      stamped = stampNew(java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 40000L), stamped)
      sentinel(60, -2L).coalesce(1).write.mode("append").parquet(d.toString)
      stampNew(java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 20000L), stamped)
      d.toString
    })
    val schema = s.read.parquet(path).schema
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    graft.engine.Tables.normalizeEventTime(raw)
  }

  /** Streaming state partition sizing. The session default
    * (shuffle.partitions = cores, the batch posture) also fixes the
    * number of state-store instances per stateful operator — each one
    * paying per-micro-batch open/commit/snapshot I/O against the
    * checkpoint. State partition count should track STATE SIZE, not
    * core count: at fixture scale 8 partitions hold the state easily
    * and cut the fixed per-batch store overhead 4x; at corpus scale
    * raise it (it is pinned into the checkpoint at first start — a
    * restarted stream keeps its original state partitioning, so size it
    * for the target state up front). Conf is restored after the stream
    * finishes; batch queries in the same session keep the session
    * default. */
  private def withStatePartitions[A](s: SparkSession, n: Int = 8)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Run an aggregation stream to a complete-mode memory sink and return
    * the final table. State-sized partitioning per [[withStatePartitions]]. */
  private def runComplete(s: SparkSession, df: DataFrame): DataFrame =
    withStatePartitions(s) { runCompleteRaw(s, df) }

  private def runCompleteRaw(s: SparkSession, df: DataFrame): DataFrame = {
    val name = "mem_" + UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", tmp("ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- incremental ingest: the reference's hold_state ----------------
    // File-source + checkpoint = exactly-once file tracking. The stream is
    // started twice against the same checkpoint; the second run finds no
    // new files, so the sink holds each purchase exactly once — the
    // f(A+B)=f(A)+f(B) re-run contract, machine-checked by the oracle
    // row counts.
    QueryDef(
      "q55_stream_incremental_ingest",
      (s, dir) => {
        import s.implicits._
        val ckpt = tmp("ckpt_")
        val out = tmp("sink_")
        def runOnce(): Unit = {
          val q = eventsStream(s, dir)
            .filter($"event_type" === "purchase")
            .select($"event_id", $"user_id", $"ts", round($"value", 4).as("value"))
            .writeStream
            .outputMode(OutputMode.Append())
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        runOnce()
        runOnce() // second run: checkpoint says all files seen -> no-op
        s.read.parquet(out).orderBy($"event_id")
      },
      Some("""
        SELECT event_id, user_id, ts, round(value, 4) AS value
        FROM events
        WHERE event_type = 'purchase'
        ORDER BY event_id""")),

    // ----- state-version drift (retention + the quantile state) ---------
    // what keep-last-N retention buys BEYOND rollback: version-over-
    // version drift. Three year-batches fold incrementally; the
    // retained previous version (through 1996) and the current one
    // (all years) are both on disk, so "did the latest arrivals shift
    // the price distribution?" is a PSI between two histograms — no
    // period re-read, no extra state kept. The oracle replays the
    // batch split and the full smoothed-PSI formula; a retention bug
    // (wrong version compared, version deleted early) changes n_ref
    // and hash-mismatches.
    QueryDef(
      "q245_state_version_drift",
      (s, dir) => {
        import s.implicits._
        val (input, ckpt, state) = (tmp("vdin_"), tmp("vdck_"), tmp("vdst_"))
        val o = graft.engine.Tables.load(s, dir, "orders")
          .select($"o_orderpriority".as("pri"),
            $"o_totalprice".as("v"), year($"o_orderdate").as("yr"))
        val inc = new graft.streaming.IncrementalQuantile(
          s, input, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("pri",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.DoubleType))),
          ckpt, state, keyCol = "pri", valueCol = "v",
          lo = 0.0, hi = 500000.0, bins = 500)
        // one staging scan, three rename-deliveries (same batch split
        // the per-batch filter+write pattern produced — see stageArrivals)
        val deliver = stageArrivals(o.select($"pri", $"v",
          when($"yr" <= 1994, 0).when($"yr" <= 1996, 1).otherwise(2)
            .as("_b")), input)
        def arrive(k: Int): Unit = { deliver(k); inc.update() }
        arrive(0); arrive(1); arrive(2)
        inc.driftSincePreviousVersion().get
          .select($"k".as("o_orderpriority"), $"n_ref", $"n_cur", $"psi")
          .orderBy($"o_orderpriority")
      },
      Some("""
        WITH v AS (
          SELECT o_orderpriority AS k, o_totalprice AS v,
                 CASE WHEN year(o_orderdate) <= 1996 THEN 1 ELSE 0 END AS p
          FROM orders),
        b AS (SELECT k, p,
                     LEAST(GREATEST(CAST(floor(v / 1000.0) AS INT), 0), 499)
                       AS b
              FROM v),
        cells AS (
          SELECT k, b,
                 CAST(sum(p) AS BIGINT) AS cr,
                 CAST(count(*) AS BIGINT) AS cc
          FROM b GROUP BY k, b),
        tot AS (
          SELECT k, count(*) AS u,
                 CAST(sum(cr) AS BIGINT) AS nr,
                 CAST(sum(cc) AS BIGINT) AS nc
          FROM cells GROUP BY k)
        SELECT cells.k AS o_orderpriority,
               CAST(max(tot.nr) AS BIGINT) AS n_ref,
               CAST(max(tot.nc) AS BIGINT) AS n_cur,
               round(sum(
                 (CAST(cells.cr + 1 AS DOUBLE) / (tot.nr + tot.u)
                   - CAST(cells.cc + 1 AS DOUBLE) / (tot.nc + tot.u))
                 * ln((CAST(cells.cr + 1 AS DOUBLE) / (tot.nr + tot.u))
                      / (CAST(cells.cc + 1 AS DOUBLE) / (tot.nc + tot.u)))),
                 4) AS psi
        FROM cells JOIN tot ON cells.k = tot.k
        GROUP BY cells.k
        ORDER BY o_orderpriority""")),

    // q245's pairwise drift folded over ALL retained versions (round
    // 12): four year-batches arrive into a retainVersions=4 quantile
    // state, and the drift SERIES reports per-key PSI for every
    // adjacent version pair — which arrival moved which key, from
    // on-disk histograms alone. The oracle replays all three folds as
    // cumulative-histogram pairs; a wrong version paired, a fold
    // skipped, or retention trimming early changes n_ref/psi and
    // hash-mismatches.
    QueryDef(
      "q329_state_drift_series",
      (s, dir) => {
        import s.implicits._
        val (input, ckpt, state) = (tmp("vsin_"), tmp("vsck_"), tmp("vsst_"))
        val o = graft.engine.Tables.load(s, dir, "orders")
          .select($"o_orderpriority".as("pri"),
            $"o_totalprice".as("v"), year($"o_orderdate").as("yr"))
        val inc = new graft.streaming.IncrementalQuantile(
          s, input, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("pri",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.DoubleType))),
          ckpt, state, keyCol = "pri", valueCol = "v",
          lo = 0.0, hi = 500000.0, bins = 500, retainVersions = 4)
        // one staging scan, four rename-deliveries (same year split the
        // per-batch filter+write pattern produced — see stageArrivals)
        val deliver = stageArrivals(o.select($"pri", $"v",
          when($"yr" <= 1994, 0).when($"yr" === 1995, 1)
            .when($"yr" === 1996, 2).otherwise(3).as("_b")), input)
        def arrive(k: Int): Unit = { deliver(k); inc.update() }
        arrive(0); arrive(1); arrive(2); arrive(3)
        inc.driftSeries().get
          .select($"k".as("o_orderpriority"), $"fold",
            $"n_ref", $"n_cur", $"psi")
          .orderBy($"o_orderpriority", $"fold")
      },
      Some("""
        WITH v AS (
          SELECT o_orderpriority AS k, o_totalprice AS v,
                 CASE WHEN year(o_orderdate) <= 1994 THEN 1
                      WHEN year(o_orderdate) = 1995 THEN 2
                      WHEN year(o_orderdate) = 1996 THEN 3
                      ELSE 4 END AS p
          FROM orders),
        b AS (SELECT k, p,
                     LEAST(GREATEST(CAST(floor(v / 1000.0) AS INT), 0), 499)
                       AS b
              FROM v),
        folds AS (SELECT unnest(generate_series(1, 3)) AS f),
        cells AS (
          SELECT f.f, k, b,
                 CAST(sum(CASE WHEN p <= f.f THEN 1 ELSE 0 END) AS BIGINT)
                   AS cr,
                 CAST(count(*) AS BIGINT) AS cc
          FROM b, folds f
          WHERE p <= f.f + 1
          GROUP BY f.f, k, b),
        tot AS (
          SELECT f, k, count(*) AS u,
                 CAST(sum(cr) AS BIGINT) AS nr,
                 CAST(sum(cc) AS BIGINT) AS nc
          FROM cells GROUP BY f, k)
        SELECT cells.k AS o_orderpriority,
               CAST(cells.f AS BIGINT) AS fold,
               CAST(max(tot.nr) AS BIGINT) AS n_ref,
               CAST(max(tot.nc) AS BIGINT) AS n_cur,
               round(sum(
                 (CAST(cells.cr + 1 AS DOUBLE) / (tot.nr + tot.u)
                   - CAST(cells.cc + 1 AS DOUBLE) / (tot.nc + tot.u))
                 * ln((CAST(cells.cr + 1 AS DOUBLE) / (tot.nr + tot.u))
                      / (CAST(cells.cc + 1 AS DOUBLE) / (tot.nc + tot.u)))),
                 4) AS psi
        FROM cells JOIN tot ON cells.f = tot.f AND cells.k = tot.k
        GROUP BY cells.k, cells.f
        ORDER BY o_orderpriority, fold""")),

    // ----- incremental per-key percentiles (q231's streaming sibling) ----
    // Orders arrive in three year-batches; each update() folds only the
    // NEW files' quantile state (mergeable fixed-grid histogram) into a
    // versioned state table behind an atomic pointer. The merge is
    // exact element-wise addition, so three incremental folds equal the
    // one-shot batch state bit-for-bit — the oracle replays the bin
    // math over ALL orders and any drift (a lost batch, a double-fold,
    // a torn state version) hash-mismatches.
    QueryDef(
      "q233_stream_incremental_quantile",
      (s, dir) => {
        import s.implicits._
        val (input, ckpt, state) = (tmp("qin_"), tmp("qck_"), tmp("qst_"))
        val o = graft.engine.Tables.load(s, dir, "orders")
          .select($"o_custkey", $"o_totalprice".as("v"),
            year($"o_orderdate").as("yr"))
        val inc = new graft.streaming.IncrementalQuantile(
          s, input, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("o_custkey",
              o.schema("o_custkey").dataType),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.DoubleType))),
          ckpt, state, keyCol = "o_custkey", valueCol = "v",
          lo = 0.0, hi = 500000.0, bins = 500)
        // one staging scan, three rename-deliveries (same batch split
        // the per-batch filter+write pattern produced — see stageArrivals)
        val deliver = stageArrivals(o.select($"o_custkey", $"v",
          when($"yr" <= 1994, 0).when($"yr" <= 1996, 1).otherwise(2)
            .as("_b")), input)
        def arrive(k: Int): Unit = { deliver(k); inc.update() }
        arrive(0); arrive(1); arrive(2)
        inc.quantile(0.5).get
          .select($"k".as("o_custkey"), $"n".as("n_orders"),
            round($"q", 4).as("est_p50"))
          .orderBy($"o_custkey")
      },
      Some("""
        WITH v AS (SELECT o_custkey AS k, o_totalprice AS v FROM orders),
        b AS (SELECT k,
                     LEAST(GREATEST(CAST(floor(v / 1000.0) AS INT), 0), 499)
                       AS b
              FROM v),
        cnt AS (SELECT k, b, count(*) AS c FROM b GROUP BY k, b),
        tot AS (SELECT k, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY k),
        cum AS (SELECT k, b, sum(c) OVER (PARTITION BY k ORDER BY b) AS cum
                FROM cnt),
        pick AS (SELECT cum.k, min(cum.b) AS idx
                 FROM cum JOIN tot ON cum.k = tot.k
                 WHERE cum.cum >= ceil(0.5 * tot.n)
                 GROUP BY cum.k)
        SELECT tot.k AS o_custkey,
               tot.n AS n_orders,
               round(CAST((pick.idx + 0.5) * 1000.0 AS DOUBLE), 4)
                 AS est_p50
        FROM tot
        JOIN pick ON tot.k = pick.k
        ORDER BY o_custkey""")),

    // ----- incremental bottom-k sketch over arriving files ---------------
    // q233's machinery with the SET state: three arrival batches fold
    // through the checkpointed exactly-once harness into a versioned
    // KMV sketch, and because min-k merge is exact the oracle is simply
    // the single-pass bottom-k of everything that arrived — the
    // identity that makes fold order unobservable is the thing the
    // hash compare certifies.
    QueryDef(
      "q270_stream_incremental_bottomk",
      (s, dir) => {
        import s.implicits._
        val (input, ckpt, state) = (tmp("bkin_"), tmp("bkck_"), tmp("bkst_"))
        val o = graft.engine.Tables.load(s, dir, "orders")
          .select($"o_orderpriority".as("pri"), $"o_custkey",
            year($"o_orderdate").as("yr"))
        val inc = new graft.streaming.IncrementalBottomK(
          s, input, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("pri",
              o.schema("pri").dataType),
            org.apache.spark.sql.types.StructField("o_custkey",
              o.schema("o_custkey").dataType))),
          ckpt, state, keyCol = "pri", valueCol = "o_custkey", k = 32)
        // one staging scan, three rename-deliveries (same batch split
        // the per-batch filter+write pattern produced — see stageArrivals)
        val deliver = stageArrivals(o.select($"pri", $"o_custkey",
          when($"yr" <= 1994, 0).when($"yr" <= 1996, 1).otherwise(2)
            .as("_b")), input)
        def arrive(k: Int): Unit = { deliver(k); inc.update() }
        arrive(0); arrive(1); arrive(2)
        val st = inc.state().get
        val est = inc.distinctEstimate().get
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"k").orderBy($"h", $"v")
        st.withColumn("rank", row_number().over(w))
          .join(est, Seq("k"))
          .select($"k".as("o_orderpriority"),
            $"rank".cast("int").as("rank"), $"v".as("cust"),
            $"h".as("hash"), $"n_sample", $"saturated", $"ndv_est")
          .orderBy($"o_orderpriority", $"rank")
      },
      Some("""
        WITH d AS (SELECT DISTINCT o_orderpriority AS k, o_custkey AS v
                   FROM orders),
        h1 AS (SELECT k, v, (v * 2654435761) % 4294967296 AS a FROM d),
        h2 AS (SELECT k, v, xor(a, a // 65536) AS x FROM h1),
        h3 AS (SELECT k, v, (x * 40503) % 4294967296 AS m2 FROM h2),
        h4 AS (SELECT k, v, xor(m2, m2 // 8192) AS h FROM h3),
        r AS (SELECT k, v, h,
                     row_number() OVER (PARTITION BY k ORDER BY h, v)
                       AS rank
              FROM h4),
        st AS (SELECT * FROM r WHERE rank <= 32),
        agg AS (SELECT k, CAST(count(*) AS BIGINT) AS n_sample,
                       max(h) AS hmax
                FROM st GROUP BY k)
        SELECT st.k AS o_orderpriority,
               CAST(st.rank AS INT) AS rank,
               st.v AS cust,
               CAST(st.h AS BIGINT) AS hash,
               agg.n_sample,
               agg.n_sample >= 32 AS saturated,
               CASE WHEN agg.n_sample < 32
                    THEN CAST(agg.n_sample AS DOUBLE)
                    ELSE round(31 * 4294967296.0 / agg.hmax, 4)
               END AS ndv_est
        FROM st JOIN agg ON st.k = agg.k
        ORDER BY o_orderpriority, rank""")),

    // ----- incrementally-maintained data-skipping index -------------------
    // ingest appends files in orderkey ranges; the manifest fold stats
    // ONLY each new file (checkpointed exactly-once), and a range query
    // then prunes against the manifest without touching history: three
    // single-file arrivals, a [6000, 9000] probe inside the second, so
    // exactly one of three files opens. The oracle replays the
    // aggregate and the file-count constants the arrival layout pins.
    QueryDef(
      "q276_incremental_skipping_manifest",
      (s, dir) => {
        import s.implicits._
        val (input, ckpt, state) = (tmp("mfin_"), tmp("mfck_"), tmp("mfst_"))
        val o = graft.engine.Tables.load(s, dir, "orders")
          .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
        val inc = new graft.streaming.IncrementalManifest(
          s, input, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("o_orderkey",
              o.schema("o_orderkey").dataType),
            org.apache.spark.sql.types.StructField("o_orderpriority",
              o.schema("o_orderpriority").dataType),
            org.apache.spark.sql.types.StructField("o_totalprice",
              o.schema("o_totalprice").dataType))),
          ckpt, state, statsCol = "o_orderkey")
        def arrive(batch: org.apache.spark.sql.DataFrame): Unit = {
          batch.repartition(1).write.mode("append").parquet(input)
          inc.update()
        }
        arrive(o.filter($"o_orderkey" < 5000))
        arrive(o.filter($"o_orderkey" >= 5000 && $"o_orderkey" < 10000))
        arrive(o.filter($"o_orderkey" >= 10000))
        val (rows, nSel, nTot) = graft.operators.DataSkipping
          .skippingFileRangeScan(s, inc.state().get, "o_orderkey",
            6000L, 9000L, emptyLike = o)
        rows.groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            round(sum($"o_totalprice"), 4).as("total_price"))
          .withColumn("n_files_scanned", lit(nSel))
          .withColumn("n_files_total", lit(nTot))
          .orderBy($"o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS total_price,
               CAST(1 AS BIGINT) AS n_files_scanned,
               CAST(3 AS BIGINT) AS n_files_total
        FROM orders
        WHERE o_orderkey BETWEEN 6000 AND 9000
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ----- time travel via retained manifest versions ---------------------
    // append-only data + keep-last-N manifest retention = snapshots for
    // free: the OLDEST retained manifest names exactly the files that
    // existed at that fold, so scanning THROUGH it reads the table as
    // of then. Three arrivals with retention 3; the same range query
    // runs at the oldest snapshot (sees only batch 1) and at current
    // (sees all three). The oracle replays both from the arrival
    // arithmetic.
    QueryDef(
      "q278_manifest_time_travel",
      (s, dir) => {
        import s.implicits._
        val (input, ckpt, state) = (tmp("ttin_"), tmp("ttck_"), tmp("ttst_"))
        val o = graft.engine.Tables.load(s, dir, "orders")
          .select($"o_orderkey", $"o_totalprice")
        val inc = new graft.streaming.IncrementalManifest(
          s, input, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("o_orderkey",
              o.schema("o_orderkey").dataType),
            org.apache.spark.sql.types.StructField("o_totalprice",
              o.schema("o_totalprice").dataType))),
          ckpt, state, statsCol = "o_orderkey", retainVersions = 3)
        def arrive(batch: org.apache.spark.sql.DataFrame): Unit = {
          batch.repartition(1).write.mode("append").parquet(input)
          inc.update()
        }
        // arrival boundaries derive from the key RANGE (min + thirds of
        // the span) instead of fixed literals: the r18 fixture regen
        // shrank sf0.001 to keys 0..1499, leaving the old >=5000
        // arrivals EMPTY (no file, no manifest version — 'oldest'
        // collapsed onto 'current'). min-anchored so an offset key
        // space cannot recreate the empty-first-batch class. One
        // bounded 2-scalar aggregate to the driver; the oracle replays
        // the identical integer arithmetic.
        val kr = o.agg(min($"o_orderkey"), max($"o_orderkey")).head
        val (mn, span) =
          if (kr.isNullAt(0)) (0L, 0L)
          else (kr.getLong(0), kr.getLong(1) - kr.getLong(0))
        val (b1, b2) = (mn + span / 3, mn + (2 * span) / 3)
        arrive(o.filter($"o_orderkey" <= b1))
        arrive(o.filter($"o_orderkey" > b1 && $"o_orderkey" <= b2))
        arrive(o.filter($"o_orderkey" > b2))
        val vs = inc.versions()
        def at(v: String, label: String) = {
          val (rows, nSel, nTot) = graft.operators.DataSkipping
            .skippingFileRangeScan(s, inc.stateAt(v), "o_orderkey",
              0L, 1000000000L, emptyLike = o)
          // exact-cents money: a whole-table double sum accumulates
          // order-dependent error past the 4dp round at sf1 row counts
          rows.agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
              .as("total_cents"))
            .select(lit(label).as("snapshot"), col("n_orders"),
              col("total_cents"), lit(nSel).as("n_files"),
              lit(nTot).as("n_files_total"))
        }
        at(vs.head, "oldest").unionAll(at(vs.last, "current"))
          .orderBy($"snapshot")
      },
      Some("""
        SELECT 'current' AS snapshot,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents,
               CAST(3 AS BIGINT) AS n_files,
               CAST(3 AS BIGINT) AS n_files_total
        FROM orders
        UNION ALL
        SELECT 'oldest' AS snapshot,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents,
               CAST(1 AS BIGINT) AS n_files,
               CAST(1 AS BIGINT) AS n_files_total
        FROM orders
        WHERE o_orderkey <= (SELECT min(o_orderkey)
                             + (max(o_orderkey) - min(o_orderkey)) // 3
                             FROM orders)
        ORDER BY snapshot""")),

    // ----- snapshot diff / incremental change feed ------------------------
    // the READ side of time travel (q278): between two retained
    // manifest versions, which files appeared, and what rows do ONLY
    // those files hold — the change-feed consumption an append-only
    // lakehouse table offers without any history re-scan. Three
    // arrivals, diffs v1->v2 and v1->v3; the oracle replays file
    // counts from the arrival layout and row deltas from the orders
    // ranges each batch carried. Exact-cents money (sf1-safe).
    QueryDef(
      "q300_snapshot_diff_feed",
      (s, dir) => {
        import s.implicits._
        val (input, ckpt, state) = (tmp("sdin_"), tmp("sdck_"), tmp("sdst_"))
        val o = graft.engine.Tables.load(s, dir, "orders")
          .select($"o_orderkey", $"o_totalprice")
        val inc = new graft.streaming.IncrementalManifest(
          s, input, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("o_orderkey",
              o.schema("o_orderkey").dataType),
            org.apache.spark.sql.types.StructField("o_totalprice",
              o.schema("o_totalprice").dataType))),
          ckpt, state, statsCol = "o_orderkey", retainVersions = 3)
        def arrive(batch: org.apache.spark.sql.DataFrame): Unit = {
          batch.repartition(1).write.mode("append").parquet(input)
          inc.update()
        }
        // key-range-derived arrival boundaries — same rationale and
        // arithmetic as q278 (fixed >=5000 splits were empty at the
        // regenerated sf0.001, collapsing the version chain)
        val kr = o.agg(min($"o_orderkey"), max($"o_orderkey")).head
        val (mn, span) =
          if (kr.isNullAt(0)) (0L, 0L)
          else (kr.getLong(0), kr.getLong(1) - kr.getLong(0))
        val (b1, b2) = (mn + span / 3, mn + (2 * span) / 3)
        arrive(o.filter($"o_orderkey" <= b1))
        arrive(o.filter($"o_orderkey" > b1 && $"o_orderkey" <= b2))
        arrive(o.filter($"o_orderkey" > b2))
        val vs = inc.versions()
        def diffRow(from: String, to: String, label: String) = {
          val (nAdd, nRem, rows) = graft.operators.DataSkipping
            .snapshotDiff(s, inc.stateAt(from), inc.stateAt(to),
              emptyLike = o)
          rows.agg(count(lit(1)).as("n_rows_added"),
            sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
              .as("added_cents"))
            .select(lit(label).as("diff"), lit(nAdd).as("n_files_added"),
              lit(nRem).as("n_files_removed"), col("n_rows_added"),
              col("added_cents"))
        }
        diffRow(vs(0), vs(1), "v1_to_v2")
          .unionAll(diffRow(vs(0), vs(2), "v1_to_v3"))
          .orderBy($"diff")
      },
      Some("""
        WITH b AS (SELECT min(o_orderkey)
                          + (max(o_orderkey) - min(o_orderkey)) // 3 AS b1,
                          min(o_orderkey)
                          + (2 * (max(o_orderkey) - min(o_orderkey))) // 3
                            AS b2
                   FROM orders)
        SELECT 'v1_to_v2' AS diff,
               CAST(1 AS BIGINT) AS n_files_added,
               CAST(0 AS BIGINT) AS n_files_removed,
               count(*) AS n_rows_added,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS added_cents
        FROM orders, b WHERE o_orderkey > b.b1 AND o_orderkey <= b.b2
        UNION ALL
        SELECT 'v1_to_v3',
               CAST(2 AS BIGINT), CAST(0 AS BIGINT),
               count(*),
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT)
        FROM orders, b WHERE o_orderkey > b.b1
        ORDER BY diff""")),

    // ----- incremental JSON schema census + drift alarm -------------------
    // the q301 census kept fresh by the exactly-once fold harness:
    // three JSONL arrivals where the third switches producer shape
    // ($.legacy -> $.v2, $.meta.score number -> string). The drift
    // between the retained pre-switch and post-switch census versions
    // is evaluated on STATES alone (no corpus re-read): renamed/dropped
    // fields go stale, the shifted type surfaces as stale+new on one
    // path. The oracle replays every count from the mod-3 arrival split.
    QueryDef(
      "q309_incremental_schema_census",
      (s, dir) => {
        import s.implicits._
        val (input, ckpt, state) = (tmp("jcin_"), tmp("jcck_"), tmp("jcst_"))
        val docs = graft.engine.Tables.load(s, dir, "documents")
          .select($"doc_id").as[Long]
        val legacy = docs.filter(_ % 3 != 2)
          .map(id => (id, s"""{"id":$id,"legacy":1,"meta":{"score":2.5}}"""))
          .toDF("doc_id", "json")
        val v2 = docs.filter(_ % 3 == 2)
          .map(id => (id, s"""{"id":$id,"v2":"x","meta":{"score":"2.5"}}"""))
          .toDF("doc_id", "json")
        val inc = new graft.streaming.IncrementalJsonCensus(
          s, input, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("json",
              org.apache.spark.sql.types.StringType))),
          ckpt, state, retainVersions = 3)
        def arrive(batch: org.apache.spark.sql.DataFrame): Unit = {
          batch.repartition(1).write.mode("append").parquet(input)
          inc.update()
        }
        arrive(legacy.filter($"doc_id" % 3 === 0))
        arrive(legacy.filter($"doc_id" % 3 === 1))
        arrive(v2)
        val vs = inc.versions()
        inc.driftBetween(vs(1), vs(2))
          .orderBy($"path", $"type")
      },
      Some("""
        WITH c AS (
          SELECT CAST(sum(CASE WHEN doc_id % 3 <> 2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n01,
                 CAST(sum(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n2,
                 CAST(count(*) AS BIGINT) AS n
          FROM documents)
        SELECT path, type, n_docs_a, n_docs_b, status FROM (
          SELECT '$' AS path, 'object' AS type, n01 AS n_docs_a,
                 n AS n_docs_b, 'growing' AS status FROM c
          UNION ALL SELECT '$.id', 'number', n01, n, 'growing' FROM c
          UNION ALL SELECT '$.legacy', 'number', n01, n01, 'stale' FROM c
          UNION ALL SELECT '$.meta', 'object', n01, n, 'growing' FROM c
          UNION ALL SELECT '$.meta.score', 'number', n01, n01, 'stale' FROM c
          UNION ALL SELECT '$.meta.score', 'string', 0, n2, 'new' FROM c
          UNION ALL SELECT '$.v2', 'string', 0, n2, 'new' FROM c)
        ORDER BY path, type""")),

    // ----- event-time tumbling window ------------------------------------
    QueryDef(
      "q56_stream_tumbling_window",
      (s, dir) => {
        import s.implicits._
        val agg = eventsStream(s, dir)
          .groupBy(window($"ts", "1 day"), $"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("total"))
        runComplete(s, agg)
          .select($"window.start".as("w_start"), $"window.end".as("w_end"),
            $"event_type", $"n", $"total")
          .orderBy($"w_start", $"event_type")
      },
      Some("""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
               CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP) AS w_end,
               event_type, count(*) AS n, round(sum(value), 4) AS total
        FROM events
        GROUP BY 1, 2, 3
        ORDER BY w_start, event_type""")),

    // ----- sliding window (2-day windows, 1-day slide) -------------------
    QueryDef(
      "q57_stream_sliding_window",
      (s, dir) => {
        import s.implicits._
        val agg = eventsStream(s, dir)
          .groupBy(window($"ts", "2 days", "1 day"))
          .agg(count(lit(1)).as("n"))
        runComplete(s, agg)
          .select($"window.start".as("w_start"), $"window.end".as("w_end"), $"n")
          .orderBy($"w_start")
      },
      Some("""
        SELECT CAST(date_trunc('day', ts) - to_days(k) AS TIMESTAMP) AS w_start,
               CAST(date_trunc('day', ts) - to_days(k) + INTERVAL 2 DAY
                    AS TIMESTAMP) AS w_end,
               count(*) AS n
        FROM events, (SELECT unnest([0, 1]) AS k)
        GROUP BY 1, 2
        ORDER BY w_start""")),

    // ----- watermark + append mode: the late-data contract ---------------
    // Append emits a window only once the watermark (max event time seen
    // minus 1 day) passes its end — so the trailing windows are withheld.
    // The oracle states that contract in SQL: only windows whose end is
    // <= max(ts) - 1 day appear. This is the semantics the reference
    // cannot express at all (late data in old files is silently ignored,
    // /root/reference/mapper.py:110-114).
    QueryDef(
      "q58_stream_watermark_append",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        val q = eventsStream(s, dir)
          .withWatermark("ts", "1 day")
          .groupBy(window($"ts", "1 day"), $"event_type")
          .agg(count(lit(1)).as("n"))
          .select($"window.start".as("w_start"), $"window.end".as("w_end"),
            $"event_type", $"n")
          .writeStream
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", tmp("ckpt_"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out).orderBy($"w_start", $"event_type")
      },
      Some("""
        WITH w AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
                 CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP) AS w_end,
                 event_type, count(*) AS n
          FROM events
          GROUP BY 1, 2, 3)
        SELECT w_start, w_end, event_type, n
        FROM w
        WHERE w_end <= (SELECT max(ts) FROM events) - INTERVAL 1 DAY
        ORDER BY w_start, event_type""")),

    // ----- session windows (30-minute gap) per user ----------------------
    QueryDef(
      "q59_stream_session_window",
      (s, dir) => {
        import s.implicits._
        val agg = eventsStream(s, dir)
          .groupBy(session_window($"ts", "30 minutes"), $"user_id")
          .agg(count(lit(1)).as("n_events"))
        runComplete(s, agg)
          .select($"user_id", $"session_window.start".as("s_start"),
            $"session_window.end".as("s_end"), $"n_events")
          .orderBy($"user_id", $"s_start")
      },
      // gaps-and-islands replay: a session breaks when the gap from the
      // previous event exceeds 30 min; session end = last event + 30 min
      Some("""
        WITH o AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events),
        g AS (
          SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
        SELECT user_id,
               CAST(min(ts) AS TIMESTAMP) AS s_start,
               CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS s_end,
               count(*) AS n_events
        FROM g
        GROUP BY user_id, sid
        ORDER BY user_id, s_start""")),

    // ----- custom keyed state: flatMapGroupsWithState --------------------
    // Running per-user (count, max value) in a GroupState — the upgrade
    // over the reference's only state (a per-file seen-set). foreachBatch
    // sink + final groupBy makes the result batching-insensitive.
    QueryDef(
      "q60_stream_stateful_counter",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        val typed = eventsStream(s, dir)
          .select($"user_id", $"value").as[(Long, Double)]
        val updated = typed
          .groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
            OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
            (user: Long, rows: Iterator[(Long, Double)],
             state: GroupState[(Long, Double)]) =>
              val (n0, mx0) = state.getOption.getOrElse((0L, Double.MinValue))
              var n = n0; var mx = mx0
              rows.foreach { case (_, v) => n += 1; mx = math.max(mx, v) }
              state.update((n, mx))
              Iterator.single((user, n, mx))
          }
        val q = updated.toDF("user_id", "n_events", "max_value")
          .writeStream
          .outputMode(OutputMode.Update())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out)
          }
          .option("checkpointLocation", tmp("ckpt_"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .groupBy($"user_id")
          .agg(max($"n_events").as("n_events"),
            round(max($"max_value"), 4).as("max_value"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id, count(*) AS n_events,
               round(max(value), 4) AS max_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    // ----- arbitrary state v2: transformWithState ------------------------
    // Spark 4's StatefulProcessor API (the successor to
    // flatMapGroupsWithState, q60): explicit named state cells on the
    // RocksDB state store — at scale, state lives off-heap/on-disk per
    // partition instead of in executor heap, which is what makes
    // billion-key state tenable. Emitted stats (count/min/max) are
    // order-independent, so the result is batching-insensitive.
    QueryDef(
      "q109_stream_transform_with_state",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        val prevProvider = s.conf.getOption(
          "spark.sql.streaming.stateStore.providerClass")
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val typed = eventsStream(s, dir)
            .select($"user_id", $"value").as[(Long, Double)]
          val updated = typed
            .groupByKey(_._1)
            .transformWithState(new RunningStatsProcessor,
              TimeMode.None(), OutputMode.Update())
          val q = updated.toDF("user_id", "n_events", "min_value", "max_value")
            .writeStream
            .outputMode(OutputMode.Update())
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("append").parquet(out)
            }
            .option("checkpointLocation", tmp("ckpt_"))
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } finally {
          prevProvider match {
            case Some(p) =>
              s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
            case None =>
              s.conf.unset("spark.sql.streaming.stateStore.providerClass")
          }
        }
        s.read.parquet(out)
          .groupBy($"user_id")
          .agg(max($"n_events").as("n_events"),
            round(min($"min_value"), 4).as("min_value"),
            round(max($"max_value"), 4).as("max_value"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id, count(*) AS n_events,
               round(min(value), 4) AS min_value,
               round(max(value), 4) AS max_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    // ----- streaming exact dedup -----------------------------------------
    // dropDuplicates on a stream: first arrival wins, EXACT dedup over
    // the whole stream. State caveat the 100 TB reader must know: the
    // event-time column is NOT among the dedup keys, so the watermark
    // does NOT evict this state — it grows with distinct keys forever.
    // That is the correct trade only when the key domain is bounded
    // (here: users x event types). For unbounded key domains the scale
    // path is q163's dropDuplicatesWithinWatermark, whose state is
    // evicted at the watermark.
    QueryDef(
      "q79_stream_dedup",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        val q = eventsStream(s, dir)
          .withWatermark("ts", "10 days")
          .dropDuplicates("user_id", "event_type")
          .select($"user_id", $"event_type")
          .writeStream
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", tmp("ckpt_"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out).orderBy($"user_id", $"event_type")
      },
      Some("""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type""")),

    // ----- streaming dedup with WATERMARK-BOUNDED state -------------------
    // dropDuplicatesWithinWatermark (Spark 3.5+): dedup keyed on the
    // business columns, but state rows are evicted once the watermark
    // passes their event time — the at-scale variant for unbounded key
    // domains (doc digests, request ids), where q79's whole-stream
    // dropDuplicates would hold state forever. Semantics trade: a
    // duplicate arriving later than the watermark delay after its first
    // occurrence can re-emit; on the fixture (one AvailableNow batch, 10
    // day delay) no eviction happens mid-run, so the output equals exact
    // DISTINCT and the oracle can gate it.
    QueryDef(
      "q163_stream_dedup_within_watermark",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        val q = eventsStream(s, dir)
          .withWatermark("ts", "10 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select($"user_id", $"event_type")
          .writeStream
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", tmp("ckpt_"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out).orderBy($"user_id", $"event_type")
      },
      Some("""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type""")),

    // ----- RocksDB state store: off-heap, spill-to-disk stream state -----
    // Same declarative plan as q56's windowed agg but keyed (window x
    // user) — the large-key-domain case — and executed with the RocksDB
    // state store provider instead of the default HDFS-backed in-memory
    // map. This is the operational 100 TB answer for big streaming state:
    // state lives off-heap in RocksDB (memtable + SST files under the
    // checkpoint), so executor heap no longer bounds the number of live
    // keys and GC pressure stays flat as state grows. Provider choice is
    // pure config — the plan, the results, and the oracle are identical
    // to the default provider (StreamingRocksDbSpec pins both: rocksdb
    // metrics present, results equal). Conf is restored after the run so
    // sibling queries keep the default provider.
    QueryDef(
      "q168_stream_rocksdb_state",
      (s, dir) => {
        import s.implicits._
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try {
          val agg = eventsStream(s, dir)
            .groupBy(window($"ts", "1 day"), $"user_id")
            .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("total"))
          runComplete(s, agg)
            .select($"window.start".as("w_start"), $"user_id", $"n", $"total")
            .orderBy($"w_start", $"user_id")
        } finally {
          prev match {
            case Some(v) => s.conf.set(key, v)
            case None => s.conf.unset(key)
          }
        }
      },
      Some("""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
               user_id, count(*) AS n, round(sum(value), 4) AS total
        FROM events
        GROUP BY 1, 2
        ORDER BY w_start, user_id""")),

    // ----- stream-stream interval join -----------------------------------
    // Purchases matched to the same user's clicks from the preceding hour
    // — both sides are streams; the watermarks + the time-bound condition
    // are what let Spark BOUND the join state (each side's buffer evicts
    // rows older than watermark + interval). The reference cannot express
    // any join, let alone a state-bounded streaming one.
    QueryDef(
      "q85_stream_stream_join",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        val ev = eventsStream(s, dir)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev.filter($"event_type" === "click")
          .select($"event_id".as("c_id"), $"user_id".as("c_user"),
            $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val q = purchases
          .join(clicks,
            $"user_id" === $"c_user" &&
              $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") &&
              $"c_ts" <= $"p_ts")
          .select($"p_id", $"user_id", $"c_id", $"c_ts")
          .writeStream
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", tmp("ckpt_"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out).orderBy($"p_id", $"c_id")
      },
      Some("""
        SELECT p.event_id AS p_id, p.user_id, c.event_id AS c_id, c.ts AS c_ts
        FROM events p
        JOIN events c
          ON p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts <= p.ts
        ORDER BY p_id, c_id""")),

    // ----- stream-stream LEFT OUTER join with watermark flush -------------
    // q85's inner join answers "which purchases had a preceding click";
    // the outer form answers the harder operational question — "which
    // purchases had NO attributable click" — and exercises the state-
    // eviction emission path: null-padded rows surface only when the
    // watermark proves no future match can arrive. The flush sentinel
    // (see eventsStreamWithFlush) makes that deterministic on a bounded
    // fixture, so the oracle is the plain batch LEFT JOIN.
    QueryDef(
      "q194_stream_outer_join",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        val ev = eventsStreamWithFlush(s, dir)
        val purchases = ev
          .filter($"event_type".isin("purchase", "flush"))
          .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev
          .filter($"event_type".isin("click", "flush"))
          .select($"event_id".as("c_id"), $"user_id".as("c_user"),
            $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val q = purchases
          .join(clicks,
            $"user_id" === $"c_user" &&
              $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") &&
              $"c_ts" <= $"p_ts",
            "left_outer")
          // NOTE: no sentinel filter here — a p_id predicate would be
          // pushed below the purchases-side watermark node, hiding the
          // flush rows from it and pinning the watermark at the last
          // real purchase (observed: the stream's final hour never
          // evicted). Sentinels are dropped in the sink read-back.
          .select($"p_id", $"user_id", $"c_id", $"c_ts")
          .writeStream
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", tmp("ckpt_"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .filter($"p_id" >= 0L) // the sentinels' own rows
          .orderBy($"p_id", $"c_id")
      },
      Some("""
        SELECT p.event_id AS p_id, p.user_id, c.event_id AS c_id,
               c.ts AS c_ts
        FROM events p
        LEFT JOIN events c
          ON c.event_type = 'click'
         AND c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts <= p.ts
        WHERE p.event_type = 'purchase'
        ORDER BY p_id, c_id""")),

    // ----- stream-stream FULL OUTER join --------------------------------
    // The union of q85 and both unmatched sides in one pass: matched
    // purchase-click pairs, purchases with no attributable click
    // (c_* null), AND clicks that attributed to no purchase (p_* null).
    // Both sides' state-eviction emission paths run — a null-padded row
    // surfaces from either buffer only when that side's watermark proves
    // no future partner can arrive. Same two-sentinel punctuation as
    // q194 (sentinels carry negative ids/user_ids so they can never pair
    // with real rows; their own null-padded emissions are dropped in the
    // sink read-back). Oracle: the plain batch FULL JOIN over
    // pre-filtered sides (the purchase/click predicates must live inside
    // the sides, not WHERE, or outer rows would be eaten).
    QueryDef(
      "q215_stream_full_outer_join",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        val ev = eventsStreamWithFlush(s, dir)
        val purchases = ev
          .filter($"event_type".isin("purchase", "flush"))
          .select($"event_id".as("p_id"), $"user_id".as("p_user"),
            $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev
          .filter($"event_type".isin("click", "flush"))
          .select($"event_id".as("c_id"), $"user_id".as("c_user"),
            $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val q = purchases
          .join(clicks,
            $"p_user" === $"c_user" &&
              $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") &&
              $"c_ts" <= $"p_ts",
            "full_outer")
          // no sentinel filter in-plan (q194's watermark-pinning lesson)
          .select($"p_id", $"p_user", $"c_id", $"c_user", $"c_ts")
          .writeStream
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", tmp("ckpt_"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .filter(($"p_id".isNull || $"p_id" >= 0L) &&
            ($"c_id".isNull || $"c_id" >= 0L)) // sentinels' own rows
          .orderBy($"p_id", $"c_id")
      },
      Some("""
        SELECT p.p_id, p.p_user, c.c_id, c.c_user, c.c_ts
        FROM (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
              FROM events WHERE event_type = 'purchase') p
        FULL JOIN (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
              FROM events WHERE event_type = 'click') c
          ON c.c_user = p.p_user
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
         AND c.c_ts <= p.p_ts
        ORDER BY p_id, c_id""")),

    // ----- stream-stream RIGHT OUTER join -------------------------------
    // q194 mirrored: every click, with its attributed purchase or nulls
    // — "which clicks converted" from the click side's point of view.
    // The null-padding now comes from the CLICK buffer's eviction path
    // (the side q194 never exercises). Same sentinel discipline; oracle
    // is the batch RIGHT JOIN with the purchase filter inside the left
    // side.
    QueryDef(
      "q216_stream_right_outer_join",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        val ev = eventsStreamWithFlush(s, dir)
        val purchases = ev
          .filter($"event_type".isin("purchase", "flush"))
          .select($"event_id".as("p_id"), $"user_id".as("p_user"),
            $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev
          .filter($"event_type".isin("click", "flush"))
          .select($"event_id".as("c_id"), $"user_id".as("c_user"),
            $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val q = purchases
          .join(clicks,
            $"p_user" === $"c_user" &&
              $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") &&
              $"c_ts" <= $"p_ts",
            "right_outer")
          .select($"p_id", $"p_user", $"c_id", $"c_user", $"c_ts")
          .writeStream
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", tmp("ckpt_"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .filter($"c_id" >= 0L &&
            ($"p_id".isNull || $"p_id" >= 0L)) // sentinels' own rows
          .orderBy($"c_id", $"p_id")
      },
      Some("""
        SELECT p.p_id, p.p_user, c.c_id, c.c_user, c.c_ts
        FROM (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
              FROM events WHERE event_type = 'purchase') p
        RIGHT JOIN (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
              FROM events WHERE event_type = 'click') c
          ON c.c_user = p.p_user
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
         AND c.c_ts <= p.p_ts
        ORDER BY c_id, p_id""")),

    // ----- stream-static join: dimension enrichment in flight -------------
    // The static side is a plain batch frame (re-read per micro-batch):
    // the standard 100 TB enrichment pattern — no state, no watermark
    // needed on the static side, stream side stays append-only. No forced
    // broadcast: the projected customer frame is SF-scaled, so the
    // planner's size estimate decides broadcast-vs-shuffle per batch.
    QueryDef(
      "q97_stream_static_join",
      (s, dir) => {
        import s.implicits._
        val customers = graft.engine.Tables.load(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment")
        val agg = eventsStream(s, dir)
          .filter($"event_type" === "purchase")
          .join(customers, $"user_id" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("total"))
        runComplete(s, agg).orderBy($"c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n, round(sum(value), 4) AS total
        FROM events JOIN customer ON user_id = c_custkey
        WHERE event_type = 'purchase'
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ----- foreachBatch: the custom idempotent sink ----------------------
    // The production pattern for sinks Spark doesn't ship natively
    // (JDBC upserts, vector stores, search indexes): foreachBatch hands
    // each micro-batch to arbitrary batch code along with a MONOTONIC
    // batchId; writing to a per-batchId location with overwrite makes the
    // sink idempotent, so checkpoint replay after a crash cannot
    // duplicate data. Proven the q55 way — the stream runs TWICE against
    // one checkpoint and the oracle counts stay exact.
    QueryDef(
      "q134_stream_foreachbatch_sink",
      (s, dir) => {
        import s.implicits._
        val ckpt = tmp("ckpt_")
        val out = tmp("sink_")
        def runOnce(): Unit = {
          val q = eventsStream(s, dir)
            .filter($"event_type" === "signup")
            .select($"event_id", $"user_id", $"ts")
            .writeStream
            .outputMode(OutputMode.Append())
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              // overwrite per batch id = replays rewrite, never append-dup
              batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
              ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        runOnce()
        runOnce() // replay: all files seen -> no new batches, sink intact
        s.read.parquet(out)
          .select($"event_id", $"user_id", $"ts")
          .orderBy($"event_id")
      },
      Some("""
        SELECT event_id, user_id, ts
        FROM events
        WHERE event_type = 'signup'
        ORDER BY event_id""")),

    // ----- event-time timers: emit on watermark passage ------------------
    // The flush sentinels (q194's punctuation) advance the watermark past
    // every user's max_ts + 1h across the bounded run's micro-batches, so
    // each user's timer fires exactly once and the emission set equals
    // the batch per-user summary — which is precisely the oracle.
    QueryDef(
      "q214_stream_event_timers",
      (s, dir) => withStatePartitions(s) {
        import s.implicits._
        val out = tmp("sink_")
        // timers live in a second column family — RocksDB provider only
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try {
          val typed = eventsStreamWithFlush(s, dir)
            .withWatermark("ts", "0 seconds")
            .select($"user_id", unix_micros($"ts").as("us"))
            .as[(Long, Long)]
          val closed = typed.groupByKey(_._1)
            .transformWithState(new SessionCloseProcessor,
              TimeMode.EventTime(), OutputMode.Append())
          val q = closed.toDF("user_id", "n_events", "closed_us")
            .writeStream
            .outputMode(OutputMode.Append())
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("append").parquet(out)
              ()
            }
            .option("checkpointLocation", tmp("ckpt_"))
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } finally prev match {
          case Some(p) => s.conf.set(key, p)
          case None => s.conf.unset(key)
        }
        s.read.parquet(out)
          .select($"user_id", $"n_events",
            timestamp_micros($"closed_us").as("closed_at"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id, count(*) AS n_events,
               max(ts) + INTERVAL 1 HOUR AS closed_at
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    // ----- update-mode output: changed aggregates per trigger ------------
    // Complete mode re-emits the whole result table every batch (q56);
    // Update emits ONLY the keys whose aggregate changed in that batch —
    // the wire-efficient contract for live dashboards and keyed stores.
    // Consumption side: each batch's updates land tagged with the
    // monotonically increasing batchId, and the reader takes the
    // last-writer-wins row per key (max_by over batchId) — exactly how a
    // KV upsert sink applies update-mode output. The 4-file deterministic
    // source makes every batch's emission set reproducible, and the
    // final last-wins state must equal the whole-table batch aggregate.
    QueryDef(
      "q213_stream_update_mode",
      (s, dir) => {
        import s.implicits._
        val out = tmp("upd_")
        withStatePartitions(s) {
          val q = eventsStreamSplit(s, dir)
            .groupBy($"event_type")
            .agg(count(lit(1)).as("n"),
              sum(round($"value" * 100).cast("long")).as("cents"))
            .writeStream
            .outputMode(OutputMode.Update())
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              batch.withColumn("_b", lit(batchId))
                .write.mode("append").parquet(out)
              ()
            }
            .option("checkpointLocation", tmp("ckpt_"))
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.read.parquet(out)
          .groupBy($"event_type")
          .agg(max_by($"n", $"_b").as("n"),
            max_by($"cents", $"_b").as("cents"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // ----- per-micro-batch observed metrics ------------------------------
    // The streaming counterpart of q204: `observe` on a stream reports its
    // named aggregates PER MICRO-BATCH through QueryProgress events — the
    // production feed-monitoring surface (rows/sec, malformed counts,
    // revenue totals per trigger) with zero extra passes; the metrics ride
    // the batch's own tasks as partial-aggregate accumulators. The source
    // is staged 4 files wide (maxFilesPerTrigger=1 -> 4 micro-batches), so
    // the oracle equality ALSO proves cross-batch accumulation: per-batch
    // metric rows summed over the run equal the whole-table aggregates.
    // Money is summed in exact cents (round-to-long per row) because
    // per-batch double sums would re-associate nondeterministically.
    QueryDef(
      "q207_stream_observe",
      (s, dir) => {
        import s.implicits._
        val rows = new java.util.concurrent.atomic.AtomicLong
        val purchases = new java.util.concurrent.atomic.AtomicLong
        val cents = new java.util.concurrent.atomic.AtomicLong
        val batches = new java.util.concurrent.atomic.AtomicLong
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
            val m = e.progress.observedMetrics
            if (m.containsKey("feed_metrics")) {
              val r = m.get("feed_metrics")
              rows.addAndGet(r.getAs[Long]("n_rows"))
              purchases.addAndGet(r.getAs[Long]("n_purchase"))
              cents.addAndGet(r.getAs[Long]("cents"))
              if (r.getAs[Long]("n_rows") > 0) batches.incrementAndGet()
              ()
            }
          }
        }
        s.streams.addListener(listener)
        try {
          // expected batch count is DERIVED from the staged split, not
          // assumed: one micro-batch per NON-EMPTY pmod class (an empty
          // class stages an empty file whose batch never fires the
          // n_rows>0 counter). The oracle derives the same number from
          // the raw table, so a fixture where some class is empty stays
          // green instead of burning the drain deadline on a constant.
          val staged = s.read.parquet(eventsSplitDir(s, dir))
          val expectedBatches = staged
            .groupBy(pmod($"event_id", lit(4))).count().count()
          val expectedRows = staged.count()
          val q = eventsStreamSplit(s, dir)
            .observe("feed_metrics",
              count(lit(1)).as("n_rows"),
              count(when($"event_type" === "purchase", 1)).as("n_purchase"),
              coalesce(sum(round($"value" * 100).cast("long")), lit(0L))
                .as("cents"))
            .select($"event_id") // sink payload irrelevant; metrics are the product
            .writeStream
            .outputMode(OutputMode.Append())
            .format("noop")
            .option("checkpointLocation", tmp("ckpt_"))
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          // progress events post asynchronously off the listener bus —
          // drain BEFORE removing the listener (a removed listener never
          // receives its queued events, which would silently drop the
          // final batch's metrics on a loaded machine)
          val deadline = System.nanoTime() + 10000000000L
          while ((batches.get() < expectedBatches ||
              rows.get() < expectedRows) && System.nanoTime() < deadline)
            Thread.sleep(20)
        } finally s.streams.removeListener(listener)
        Seq((batches.get(), rows.get(), purchases.get(), cents.get()))
          .toDF("n_batches", "n_rows", "n_purchase", "cents")
      },
      Some("""
        SELECT (SELECT count(DISTINCT event_id % 4) FROM events)
                 AS n_batches,
               count(*) AS n_rows,
               count(CASE WHEN event_type = 'purchase' THEN 1 END)
                 AS n_purchase,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events"""))
  )

  /** Events staged as FOUR parquet files (deterministic pmod split on
    * event_id) so a maxFilesPerTrigger=1 stream runs four real
    * micro-batches — the multi-batch harness for per-batch metric
    * accumulation (q207). Totals are split-invariant; per-file contents
    * are deterministic (pmod, not sampled ranges). */
  private val stagedSplit = scala.collection.concurrent.TrieMap.empty[String, String]

  private def eventsSplitDir(s: SparkSession, dir: String): String = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    stagedSplit.getOrElseUpdate(path, {
      val d = Files.createTempDirectory("events_split_")
      val base = graft.engine.Tables.normalizeEventTime(s.read.parquet(path))
      for (i <- 0 until 4)
        base.filter(pmod($"event_id", lit(4)) === i)
          .coalesce(1).write.mode("append").parquet(d.toString)
      d.toString
    })
  }

  private def eventsStreamSplit(s: SparkSession, dir: String): DataFrame = {
    val srcDir = eventsSplitDir(s, dir)
    val schema = s.read.parquet(srcDir).schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(srcDir)
  }
}
