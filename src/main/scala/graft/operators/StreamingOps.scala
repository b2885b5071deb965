package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  StreamingQueryProgress, Trigger}
import scala.jdk.CollectionConverters._

/** Structured Streaming surface. Each operator here runs a REAL streaming
  * query — `readStream` file source over the events parquet, windowed /
  * stateless transforms, `writeStream` into a memory sink — driven to
  * completion with Trigger.AvailableNow, then returns the sink table. The
  * results are therefore oracle-checkable like any batch op, and must
  * equal the batch half (EventOps) by construction.
  *
  * At production scale the same pipelines run unbounded: swap the trigger
  * for a processing-time one, add `withWatermark` to bound state (the
  * memory sink's complete mode here retains all windows because the test
  * corpus is finite), and point the sink at kafka/delta. The transform
  * code is IDENTICAL — that's the point of Structured Streaming.
  */
object StreamingOps {

  /** Number of time-range files the events source is staged as — and
    * therefore the number of data micro-batches every streaming op here
    * processes (maxFilesPerTrigger=1). >1 so stateful operators genuinely
    * carry GroupState/watermarks ACROSS batches; with a single staged
    * file the state-carry path never executes (VERDICT r02 item 3). */
  val stagedFiles = 3

  /** Progress of the most recent [[runStream]] run; its data micro-batch
    * count is asserted >= stagedFiles by PipelineSpec. */
  @volatile var lastRunProgress: Array[StreamingQueryProgress] = Array.empty
  def lastRunDataBatches: Int = lastRunProgress.count(_.numInputRows > 0)

  /** Content tag of the events source: path AND fingerprint (mtime+size,
    * recursive for directory-shaped parquet), so a regenerated
    * events.parquet at the same path gets FRESH staging/sink dirs
    * instead of being served a stale copy forever (ADVICE r03 — the
    * _STAGED marker is permanent, so a path-only key never restages).
    * hashCode is avoided because it could collide across scale-factor
    * dirs and silently link the wrong file. Also keys the file-sink
    * output/checkpoint dirs of p_stream_file_sink. */
  private def srcTag(dir: String): String = {
    val src = java.nio.file.Paths.get(dir, "events.parquet").toRealPath()
    val fingerprint = {
      val walk = java.nio.file.Files.walk(src)
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => s"${src.relativize(p)}:${java.nio.file.Files.size(p)}:" +
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toSeq.sorted.mkString("\n")
      finally walk.close()
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$src\n$fingerprint".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  private def stream(s: SparkSession, dir: String): DataFrame = {
    // Stage the ts-NORMALIZED frame (PipeData.events handles both the
    // nanos and the timestamp[us] source layouts), so the staged files
    // and the readStream schema agree on TimestampType and no further
    // conversion happens downstream. Range bounds are computed and
    // applied on unix_micros(ts) — approxQuantile takes numeric columns
    // only.
    val raw = PipeData.events(s, dir).withColumn("__us", unix_micros(col("ts")))
    val schema = raw.drop("__us").schema
    val tag = srcTag(dir)
    val staged = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_stream3_" + tag)
    val marker = staged.resolve("_STAGED")
    if (!java.nio.file.Files.exists(marker)) {
      // Stage the events table as `stagedFiles` DISJOINT ts-range files
      // with ascending modification times: the file source (latestFirst=
      // false) picks files oldest-first, so batches arrive in event-time
      // order — the arrival pattern of a real landing directory — and
      // per-key sequence state must survive batch boundaries for
      // p_stream_user_seq to match its global ROW_NUMBER oracle.
      java.nio.file.Files.createDirectories(staged)
      // relativeError 0.001 = one-pass sketch instead of the exact
      // multi-pass computation; ANY distinct bounds give valid disjoint
      // ranges (exactness of the split points is irrelevant — the
      // require below only guards distinctness).
      val bounds = raw.stat.approxQuantile(
        "__us", (1 until stagedFiles).map(_.toDouble / stagedFiles).toArray, 0.001)
        .map(_.toLong).distinct.sorted
      // Coinciding quantiles (heavy ts duplication) would yield an EMPTY
      // range file and fewer data micro-batches than stagedFiles — the
      // multi-batch state-carry guarantee silently degrades. Fail fast
      // with a diagnosis instead (ADVICE r03); the events generator emits
      // near-unique timestamps, so this only fires on a degenerate corpus.
      require(bounds.length == stagedFiles - 1,
        s"cannot stage events as $stagedFiles disjoint ts ranges: quantile " +
          s"bounds collide (${bounds.mkString(",")}) — ts values too heavily " +
          "duplicated for range-based splits")
      val ranges = (Long.MinValue +: bounds).zip(bounds :+ Long.MaxValue)
      ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
        val tmp = staged.resolve(s"tmp_$i")
        raw.filter(col("__us") > lo && col("__us") <= hi).drop("__us")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = {
          val listing = java.nio.file.Files.list(tmp)
          try listing.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file under $tmp"))
          finally listing.close() // directory-handle leak otherwise (ADVICE r03)
        }
        val dest = staged.resolve(f"events_$i%02d.parquet")
        java.nio.file.Files.move(part, dest,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // strictly ascending mod times = deterministic oldest-first order
        dest.toFile.setLastModified(1000000000000L + i * 60000L)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
      java.nio.file.Files.createFile(marker)
    }
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged.toString)
  }

  /** Scratch root for per-run (non-durable) streaming checkpoints.
    * A micro-batch commits through the offset log, the commit log and
    * one delta file per state store — with 32 shuffle partitions a
    * stream-stream join writes ~130 small files per batch through
    * Hadoop's ChecksumFileSystem (write + .crc + rename each). On a
    * tmpfs that is noise; on the sandbox's virtio /tmp it dominated the
    * whole query (measured: p_stream_tumbling_wm 13 s with /tmp
    * checkpoints, ~1 s on tmpfs) and was the real root of the r05
    * driver-bench streaming anomaly. Production checkpoints are durable
    * by requirement — these are AvailableNow one-shot runs whose
    * checkpoint is discarded after the run, so RAM-backed scratch is
    * semantically free speed. */
  private val ckptScratch: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base = if (java.nio.file.Files.isDirectory(shm) &&
      java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    base.resolve("graft_stream_ckpt")
  }

  /** State partition count for the streaming runs. Distinct from the
    * session's batch `spark.sql.shuffle.partitions`: every state
    * partition is a StateStore whose per-batch commit has a large FIXED
    * cost (delta-file create + codec + rename, plus provider-registry
    * synchronization), and a stream-stream join carries FOUR stores per
    * partition. At 32 partitions that is 128 store commits per
    * micro-batch of fixed overhead — measured 35-62 s of summed
    * commitTimeMs per batch on this corpus vs 0.9 s at 4 partitions,
    * and the contention is what made the r05 driver bench blow up
    * (p_stream_stream_left 52.8 s). State partitions must be sized to
    * STATE VOLUME, not to the session's CPU count: the bench corpus
    * carries ~13k state rows per batch, so 8 partitions is generous. At
    * 100 TB you raise this (it is pinned per-checkpoint by Spark's
    * OffsetSeqMetadata, so a production job picks it once at first
    * start). Read at each run's start. */
  def streamStatePartitions: Int = graft.Knob.int("SPARK_GRAFT_STREAM_PARTS",
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8"), min = 1)

  /** Run the streaming query `start` makes of `df` to completion on a
    * clone of `df`'s session whose `spark.sql.shuffle.partitions` is
    * [[streamStatePartitions]] (a query's state width is the value it
    * captures at start), so the caller's session conf never changes;
    * then release the run's residue and `ckpt`. Returns the clone, where
    * a memory sink's view registers. */
  private def runStream(df: DataFrame, ckpt: java.nio.file.Path)(
      start: DataFrame => StreamingQuery): SparkSession = {
    val ss = GraftShim.cloneSession(df.sparkSession)
    ss.conf.set("spark.sql.shuffle.partitions", streamStatePartitions.toString)
    val q = start(GraftShim.rebind(ss, df))
    try q.awaitTermination()
    finally {
      lastRunProgress = q.recentProgress
      q.stop()
      releaseStreamingResidue(ss)
      GraftShim.detachStreamListeners(q)
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }
    ss
  }

  private def runToTable(df: DataFrame, mode: String)(implicit s: SparkSession): DataFrame = {
    val name = "sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = ckptScratch.resolve(name)
    val ss = runStream(df, ckpt)(
      _.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start())
    // Freeze the result off the sink (read back into the caller's
    // session) and drop the temp view: the memory sink holds the full
    // result per run and would otherwise accumulate one copy per
    // invocation for the life of the session.
    val frozen = graft.Ckpt.eager(GraftShim.rebind(s, ss.table(name)))
    ss.catalog.dropTempView(name)
    frozen
  }

  /** Leave the session as the streaming query found it. A stopped query
    * keeps its state stores loaded ([[GraftShim.unloadStreamingState]]);
    * across this 12-query family that residue made in-sequence timings
    * 2-6× worse than isolated ones (BENCH_r05: p_stream_stream_left
    * 52.8 s vs 3.3 s isolated, VERDICT r05 item 1). resetTerminated()
    * drops the session's grown terminated-query list. */
  private def releaseStreamingResidue(s: SparkSession): Unit = {
    GraftShim.unloadStreamingState()
    s.streams.resetTerminated()
  }

  /** Per-batch reduce of the upsert pipeline: latest (ts, event_id) row
    * per key within ONE micro-batch — a |batch|-scale hash-partitioned
    * window, never touching the accumulated target. Package-visible so
    * StreamRecoverySpec drives the identical logic through a
    * stop/restart. */
  private[graft] def upsertReduce(batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("last_ts").desc, col("last_event_id").desc)
    batch.select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), col("event_type").as("last_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** The upsert MERGE: co-partitioned full outer on the key, newest
    * (last_ts, last_event_id) side wins per column. Both sides arrive
    * hash-partitioned by user_id (the reduce window / the previous
    * merge through eagerPartitioned), so each batch shuffles |batch|
    * rows once and NEVER re-sorts or re-exchanges the accumulated
    * table (the same AQE-checkpoint discipline as the iterative graph
    * merges, pinned by PlanSpec). Rank-based, therefore IDEMPOTENT
    * under micro-batch replay: re-merging an already-applied batch
    * changes nothing — which is exactly what makes foreachBatch + a
    * replayed uncommitted batch after restart safe (exactly-once
    * table state from at-least-once batch delivery). */
  private[graft] def upsertMerge(prev: DataFrame, inc: DataFrame): DataFrame = {
    val cols = Seq("last_event_id", "last_ts", "last_type")
    val p = prev.select(col("user_id") +: cols.map(c => col(c).as(s"p_$c")): _*)
    val i = inc.select(col("user_id") +: cols.map(c => col(c).as(s"i_$c")): _*)
    val incWins = col("i_last_ts").isNotNull && (col("p_last_ts").isNull ||
      col("i_last_ts") > col("p_last_ts") ||
      (col("i_last_ts") === col("p_last_ts") &&
        col("i_last_event_id") > col("p_last_event_id")))
    p.join(i, Seq("user_id"), "full").select(
      col("user_id") +: cols.map(c =>
        when(incWins, col(s"i_$c")).otherwise(col(s"p_$c")).as(c)): _*)
  }

  val all: List[Q] = List(

    // ---- streaming tumbling-window aggregation ------------------------
    Q("p_stream_tumbling",
      (s, dir) => {
        implicit val sp: SparkSession = s
        runToTable(
          stream(s, dir)
            .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(col("w.start").as("window_start"), col("event_type"), col("n")),
          "complete")
      },
      Some("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
             |       count(*) AS n
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- watermarked append-mode windows ------------------------------
    // The production late-data configuration: a 2h event-time watermark
    // bounds state, and append mode emits a window only once the
    // watermark passes its end — so the emitted set is exactly the
    // windows with end <= max(ts) - 2h, which the oracle computes
    // directly. (Windows still open at end-of-stream are withheld: in a
    // real deployment they'd emit as the watermark advances.)
    Q("p_stream_tumbling_wm",
      (s, dir) => {
        implicit val sp: SparkSession = s
        runToTable(
          stream(s, dir)
            .withWatermark("ts", "2 hours")
            .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(col("w.start").as("window_start"), col("event_type"), col("n")),
          "append")
      },
      Some("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
             |       count(*) AS n
             |FROM events
             |GROUP BY 1, 2
             |HAVING window_start + INTERVAL 1 HOUR <=
             |       (SELECT max(ts) FROM events) - INTERVAL 2 HOUR""".stripMargin)),

    // ---- custom state: per-user sequence numbers ----------------------
    // flatMapGroupsWithState with a running per-user counter: each
    // micro-batch sorts its group's events by (ts, event_id), numbers
    // them from the carried state, and updates it. With the finite
    // corpus this reproduces an exact ROW_NUMBER — which is the oracle —
    // while exercising the real arbitrary-state API (the 100 TB shape
    // for CDC ordering, per-key rate limiting, online feature updates).
    Q("p_stream_user_seq",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val typed = stream(s, dir)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsl"))
          .as[(Long, Long, Long)]
        val seqd = typed
          .groupByKey(_._1)
          .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
            (user: Long, evs: Iterator[(Long, Long, Long)], state: GroupState[Long]) => {
              val base = state.getOption.getOrElse(0L)
              val ordered = evs.toSeq.sortBy(e => (e._3, e._2))
              state.update(base + ordered.size)
              ordered.iterator.zipWithIndex.map { case ((_, eid, _), i) =>
                (user, eid, base + i + 1)
              }
            })
        runToTable(seqd.toDF("user_id", "event_id", "seq"), "append")
      },
      Some("""SELECT user_id, event_id,
             |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
             |FROM events""".stripMargin)),

    // ---- streaming dedup: first sighting per (user, hour) -------------
    // The streaming half of exact dedup: dropDuplicates keyed on
    // (user_id, hour) with the hour column watermarked, so seen-key state
    // is EVICTED once the watermark passes it — the unbounded-stream
    // requirement (un-watermarked dedup state grows forever). The staged
    // files arrive in ascending ts ranges, so no row is ever late against
    // the 2h delay and every distinct pair is emitted exactly once —
    // which is the oracle.
    Q("p_stream_dedup",
      (s, dir) => {
        implicit val sp: SparkSession = s
        runToTable(
          stream(s, dir)
            .withColumn("hr", date_trunc("hour", col("ts")))
            .withWatermark("hr", "2 hours")
            .dropDuplicates("user_id", "hr")
            .select(col("user_id"), col("hr")),
          "append")
      },
      Some("""SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr
             |FROM events""".stripMargin)),

    // ---- stream-static join: enrich a stream with a batch profile -----
    // The canonical enrichment shape: the stream side stays unbounded,
    // the static side is a batch frame (here per-user historical click
    // counts) re-planned per micro-batch and broadcast by AQE — no state,
    // no watermark needed for an inner stream-static equi-join.
    Q("p_stream_join",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val profile = PipeData.events(s, dir)
          .filter(col("event_type") === "click")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
        runToTable(
          stream(s, dir)
            .filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"))
            .join(profile, Seq("user_id")),
          "append")
      },
      Some("""SELECT e.user_id, e.event_id, c.n_clicks
             |FROM events e
             |JOIN (SELECT user_id, count(*) AS n_clicks FROM events
             |      WHERE event_type = 'click' GROUP BY user_id) c
             |  USING (user_id)
             |WHERE e.event_type = 'purchase'""".stripMargin)),

    // ---- streaming sessionization: watermarked session windows --------
    // session_window in append mode: a session is emitted once the
    // watermark passes its end (last event + 30min gap); state for merged
    // sessions is bounded by the watermark. Emitted set = sessions whose
    // end <= max(ts) - 2h, which the oracle computes with the batch
    // gaps-and-islands form + the closed-session filter (sessions still
    // open at end-of-stream are withheld, as in p_stream_tumbling_wm).
    Q("p_stream_sessions",
      (s, dir) => {
        implicit val sp: SparkSession = s
        runToTable(
          stream(s, dir)
            .withWatermark("ts", "2 hours")
            .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("user_id"), col("w.start").as("session_start"),
              col("n_events")),
          "append")
      },
      Some("""WITH x AS (SELECT user_id, ts,
             |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |            >= INTERVAL 30 MINUTE
             |       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |       THEN 1 ELSE 0 END AS new_s
             |  FROM events),
             |y AS (SELECT user_id, ts,
             |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |                         ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM x)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
             |FROM y GROUP BY user_id, sid
             |HAVING max(ts) + INTERVAL 30 MINUTE <=
             |       (SELECT max(ts) FROM events) - INTERVAL 2 HOUR""".stripMargin)),

    // ---- stream-stream interval join: click → purchase attribution ----
    // Both sides are unbounded streams of the same source; the inner
    // equi-join on user with a [0, 30 min] event-time bound is the
    // canonical attribution shape. Watermarks on BOTH sides plus the
    // time-range predicate are what let Spark evict join state (a click
    // older than watermark - 30 min can never match again). The staged
    // files arrive in ascending ts ranges and the 2 h watermark delay
    // dwarfs the 30 min window, so no match is ever dropped to late
    // eviction — the emitted set is exactly the batch interval join,
    // which is the oracle.
    Q("p_stream_stream_join",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val clicks = stream(s, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("event_id").as("click_id"),
            col("ts").as("cts"))
          .withWatermark("cts", "2 hours")
        val buys = stream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").as("pts"))
          .withWatermark("pts", "2 hours")
        runToTable(
          clicks.join(buys, expr(
            "cu = user_id AND pts >= cts AND pts <= cts + interval 30 minutes"))
            .select(col("user_id"), col("click_id"), col("purchase_id")),
          "append")
      },
      Some("""SELECT p.user_id, c.event_id AS click_id, p.event_id AS purchase_id
             |FROM events c JOIN events p
             |  ON c.user_id = p.user_id
             | AND c.event_type = 'click' AND p.event_type = 'purchase'
             | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin)),

    // ---- stream-stream LEFT OUTER interval join -----------------------
    // The attribution join's other half: clicks that converted join
    // their purchase; clicks that did NOT convert are emitted with a
    // NULL purchase once the watermark seals their 30-minute window
    // (before that they are withheld — a match could still arrive).
    // The oracle is matched-pairs ∪ unmatched clicks whose window
    // closed under the FINAL GLOBAL watermark. Two subtleties the r04
    // red run taught (VERDICT r04 item 1): each side watermarks its
    // FILTERED stream, so the global watermark is
    //   min(max click ts, max purchase ts) - 2h   — NOT max(all ts) - 2h
    // (the purchase side's watermark lags the click side's here); and
    // Spark tracks event-time maxima at millisecond resolution, so the
    // oracle floors the side maxima to ms before taking the min. Seal
    // is strict (<): eviction fires when the window end is strictly
    // below the watermark instant (WatermarkSupport emits
    // `attr <= wm*1000 - 1` in the microsecond domain).
    Q("p_stream_stream_left",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val clicks = stream(s, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("event_id").as("click_id"),
            col("ts").as("cts"))
          .withWatermark("cts", "2 hours")
        val buys = stream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").as("pts"))
          .withWatermark("pts", "2 hours")
        runToTable(
          clicks.join(buys, expr(
            "cu = user_id AND pts >= cts AND pts <= cts + interval 30 minutes"),
            "left_outer")
            .select(col("cu").as("user_id"), col("click_id"), col("purchase_id")),
          "append")
      },
      Some("""WITH c AS (SELECT user_id, event_id AS click_id, ts AS cts
             |           FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
             |      FROM events WHERE event_type = 'purchase'),
             |wm AS (SELECT epoch_ms(least(
             |         epoch_ms(CAST((SELECT max(cts) FROM c) AS TIMESTAMP)),
             |         epoch_ms(CAST((SELECT max(pts) FROM p) AS TIMESTAMP)))
             |         - 7200000) AS w),
             |matched AS (SELECT c.user_id, c.click_id, p.purchase_id
             |            FROM c JOIN p ON c.user_id = p.user_id
             |             AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE)
             |SELECT user_id, click_id, purchase_id FROM matched
             |UNION ALL
             |SELECT c.user_id, c.click_id, NULL
             |FROM c
             |WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
             |  AND c.cts + INTERVAL 30 MINUTE < (SELECT w FROM wm)""".stripMargin)),

    // ---- update-mode running counts -----------------------------------
    // The third output mode: each micro-batch emits only the keys whose
    // aggregate CHANGED (the dashboard/serving-store feed — complete
    // mode re-emits the world, append can't update). The memory sink
    // therefore holds one row per (key, batch-it-changed-in); counts
    // only grow, so max(n) per key is the final state, which is what
    // the oracle pins. A spec additionally pins that multiple batches
    // really contributed updates.
    Q("p_stream_counts_update",
      (s, dir) => {
        implicit val sp: SparkSession = s
        runToTable(
          stream(s, dir)
            .groupBy(col("user_id"))
            .agg(count(lit(1)).as("n")),
          "update")
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("n_events"))
      },
      Some("""SELECT user_id, count(*) AS n_events
             |FROM events GROUP BY user_id""".stripMargin)),

    // ---- custom sessionization: arbitrary state + event-time timeout --
    // The same session semantics as p_stream_sessions, rebuilt on the
    // RAW state API — the shape you need the moment session logic stops
    // being expressible as session_window (per-session caps, dynamic
    // gaps, session-scoped aggregates). State per user = the ordered
    // list of not-yet-emittable sessions (all closed ones plus the one
    // open tail); a session is emitted only once the EVENT-TIME
    // watermark passes its close time (last + gap), either on the data
    // path or via GroupStateTimeout.EventTimeTimeout when the key goes
    // quiet — never on close-by-successor, which would leak
    // still-retractable sessions at the stream frontier. Must equal
    // BOTH the session_window op and the batch oracle.
    Q("p_stream_sessions_state",
      (s, dir) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val gapUs = 30L * 60 * 1000000 // 30 min in micros (ts domain)
        // the watermarked TIMESTAMP column must survive projection all
        // the way into the stateful operator (a unix_micros() rewrite
        // would strip the watermark and event-time timeouts with it)
        val typed = stream(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"))
          .withWatermark("ts", "2 hours")
          .as[(Long, Long, java.sql.Timestamp)]
        def us(t: java.sql.Timestamp): Long =
          Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        // state: sessions as (start, last, n), disjoint, sorted by start
        val out = typed.groupByKey(_._1)
          .flatMapGroupsWithState(
            OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
            (user: Long, evs: Iterator[(Long, Long, java.sql.Timestamp)],
             state: GroupState[Seq[(Long, Long, Long)]]) => {
              val wmUs = state.getCurrentWatermarkMs() * 1000
              var sessions = state.getOption.getOrElse(Seq.empty)
              for ((_, eid, ts) <- evs.toSeq
                  .map(e => (e._1, e._2, us(e._3))).sortBy(e => (e._3, e._2))) {
                sessions.lastOption match {
                  case Some((st, last, n)) if ts - last < gapUs =>
                    sessions = sessions.init :+ (st, math.max(last, ts), n + 1)
                  case _ =>
                    sessions = sessions :+ ((ts, ts, 1L))
                }
              }
              // emit every session the watermark has sealed (close time
              // last+gap <= wm); disjointness makes this a prefix drain
              val (emit, keep) = sessions.partition(_._2 + gapUs <= wmUs)
              if (keep.isEmpty) state.remove()
              else {
                state.update(keep)
                // earliest pending close time is > wm (else it drained),
                // so this never violates the must-be-after-watermark rule
                state.setTimeoutTimestamp((keep.head._2 + gapUs) / 1000)
              }
              emit.iterator.map { case (st, _, n) => (user, st, n) }
            })
        runToTable(
          out.toDF("user_id", "start_us", "n_events")
            .select(col("user_id"),
              timestamp_micros(col("start_us")).as("session_start"),
              col("n_events")),
          "append")
      },
      // identical session semantics => identical oracle as p_stream_sessions
      Some("""WITH x AS (SELECT user_id, ts,
             |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |            >= INTERVAL 30 MINUTE
             |       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |       THEN 1 ELSE 0 END AS new_s
             |  FROM events),
             |y AS (SELECT user_id, ts,
             |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |                         ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM x)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
             |FROM y GROUP BY user_id, sid
             |HAVING max(ts) + INTERVAL 30 MINUTE <=
             |       (SELECT max(ts) FROM events) - INTERVAL 2 HOUR""".stripMargin)),

    // ---- streaming file sink: exactly-once parquet landing ------------
    // The production sink path memory-sink ops can't exercise: the
    // parquet file sink commits each micro-batch atomically through its
    // _spark_metadata log, and a restart against the same checkpoint
    // reprocesses NOTHING (batch offsets are durable) — re-running this
    // operator in a fresh session appends zero rows and returns the
    // identical aggregate, which is exactly what the oracle pins. At
    // 100 TB this is the landing-zone writer: per-batch atomic commits,
    // idempotent on retry, partitioned output files.
    Q("p_stream_file_sink",
      (s, dir) => {
        val tag = srcTag(dir)
        val base = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), "graft_fsink_" + tag)
        val q = stream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value"))
          .writeStream.format("parquet")
          .option("path", base.resolve("data").toString)
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally { q.stop(); releaseStreamingResidue(s) }
        s.read.schema("event_id LONG, user_id LONG, value DOUBLE")
          .parquet(base.resolve("data").toString)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"))
      },
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY user_id""".stripMargin)),

    // ---- foreachBatch CDC upsert: maintain a keyed serving table ------
    // The production "streaming MERGE" pattern: each micro-batch reduces
    // to its latest row per key, then upserts into a keyed target —
    // insert new keys, replace an existing key iff the incoming row wins
    // by (ts, event_id). foreachBatch is the integration point every
    // lakehouse sink uses (Delta/Iceberg MERGE INTO); no table format
    // ships in this container, so the target lives as a checkpointed
    // DataFrame and the merge is the same latest-per-key plan a MERGE
    // compiles to. The merge is rank-based, NOT last-writer-wins, so the
    // result is correct even if micro-batches arrived out of event-time
    // order — the property that matters when the landing feed is a
    // multi-partition CDC topic. Final-state oracle = batch
    // latest-per-key (the p_events_latest shape). At 100 TB the target
    // is a keyed table partitioned by user_id hash and each batch's
    // merge touches only matched partitions; the per-batch reduce keeps
    // the shuffled volume at |batch|, never |target|.
    Q("p_stream_upsert",
      (s, dir) => {
        val target = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
        val name = "upsert_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val ckpt = ckptScratch.resolve(name)
        runStream(stream(s, dir), ckpt)(
          _.writeStream
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
              val incoming = upsertReduce(batch)
              val prev = target.get()
              val merged = graft.Ckpt.eagerPartitioned(
                if (prev == null) incoming else upsertMerge(prev, incoming))
              if (prev != null) graft.Ckpt.drop(prev)
              target.set(merged)
              ()
            }
            .start())
        require(target.get() != null, "upsert stream produced no batches")
        target.get()
      },
      // identical final-state semantics => identical oracle as p_events_latest
      Some("""SELECT user_id, event_id AS last_event_id, ts AS last_ts,
             |       event_type AS last_type
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |                ORDER BY ts DESC, event_id DESC) AS rn
             |      FROM events)
             |WHERE rn = 1""".stripMargin)),

    // ---- streaming dedup against a PERSISTED key store -----------------
    // The streaming half of the incremental-dedup loop (round 12; the
    // idempotent-consumer / first-touch-attribution shape): each
    // micro-batch reduces to its first event per user, anti-joins the
    // BUCKETED seen-users store bucket-aligned, emits only first
    // sightings, and APPENDS the new keys via insertInto — so the store,
    // unlike dropDuplicates' in-memory state, survives restarts and is
    // shared by every pipeline that consumes the feed. Read-then-append
    // on one table is safe because the anti-join is materialized
    // (localCheckpoint) BEFORE the insert. At 100 TB the store side
    // never re-exchanges and each batch shuffles only itself — the same
    // discipline as p_dedup_incremental_ingest, driven from a stream.
    Q("p_stream_dedup_store",
      (s, dir) => {
        val name = "graft_bkt_seen_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        s.sql(s"CREATE TABLE $name (user_id BIGINT) USING parquet " +
          "CLUSTERED BY (user_id) SORTED BY (user_id) INTO 16 BUCKETS")
        val target = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
        val ckpt = ckptScratch.resolve(name)
        try runStream(stream(s, dir), ckpt)(
          _.writeStream
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
              val firsts = batch.groupBy("user_id")
                .agg(min(struct(col("ts"), col("event_id"))).as("w"))
                .select(col("user_id"), col("w.event_id").as("first_event_id"),
                  col("w.ts").as("first_ts"))
              val fresh = graft.Ckpt.eager(
                firsts.hint("merge").join(s.table(name), Seq("user_id"), "left_anti"))
              val prev = target.get()
              target.set(if (prev == null) fresh else prev.unionByName(fresh))
              fresh.select("user_id").write.mode("append").insertInto(name)
              // the micro-batch runs under a CLONED session: invalidate
              // the cached file listing on the outer one explicitly, or
              // the next batch's anti-join reads the CREATE-time (empty)
              // snapshot forever
              s.catalog.refreshTable(name)
              ()
            }
            .start())
        finally s.sql(s"DROP TABLE IF EXISTS $name")
        require(target.get() != null, "dedup-store stream produced no batches")
        target.get()
      },
      // batches arrive in ascending ts ranges, so first-sighting-per-
      // batch composes to the GLOBAL first event per user
      Some("""SELECT user_id, event_id AS first_event_id, ts AS first_ts
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |                ORDER BY ts, event_id) AS rn
             |      FROM events)
             |WHERE rn = 1""".stripMargin)),

    // ---- stateless streaming ETL: filter + project + route ------------
    Q("p_stream_errors",
      (s, dir) => {
        implicit val sp: SparkSession = s
        runToTable(
          stream(s, dir)
            .filter(col("event_type") === "error")
            .select(col("event_id"), col("user_id"),
              date_trunc("hour", col("ts")).as("hour")),
          "append")
      },
      Some("""SELECT event_id, user_id, date_trunc('hour', ts) AS hour
             |FROM events WHERE event_type = 'error'""".stripMargin)),
  )
}
