package graft

import org.apache.spark.sql.{DataFrame, Dataset, GraftShim, SparkSession}

/** Ledger of eager localCheckpoints, so their blocks can be released.
  *
  * Iterative operators (connected components, PageRank, dup clustering)
  * and the engine's mutation pipeline cut lineage with eager
  * `localCheckpoint(true)` — but Spark never frees those blocks, so a
  * 9-superstep algorithm pins 18 materialized frames and a 78-query bench
  * session accumulates hundreds (measured: the same queries run 2-3×
  * slower at the end of a full bench run than in isolation, from block
  * eviction churn). Two release points:
  *
  *   - operators [[drop]] a checkpoint the moment the next one is
  *     materialized (nothing derives from it anymore);
  *   - harnesses (Bench, Verify) [[drain]] whatever is left after fully
  *     consuming each query's result.
  *
  * A dropped localCheckpoint is unrecoverable (no lineage), so `drop` is
  * only called on frames nothing live references; `drain` only after the
  * result has been counted/written.
  */
object Ckpt {
  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Dataset[_]]()

  /** Eager localCheckpoint, tracked for later release. */
  def eager(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = true)
    live.add(c)
    c
  }

  /** Eager localCheckpoint OUTSIDE the drain ledger: for frames held in
    * the [[memo]] across queries (edge hoists, memoized algorithm
    * results). A drained localCheckpoint is unrecoverable — lineage is
    * gone — so a cross-query cache must never enter [[drain]]'s sweep;
    * pinned frames live as long as their memo entry. */
  def pinned(df: DataFrame): DataFrame =
    withoutAqe(df) { d => d.localCheckpoint(eager = true) }

  /** One build slot per memo key; the slot's monitor serializes builds
    * of ITS key only. */
  private final class Slot { var value: Option[Any] = None }

  private val memos = new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any), Slot]()

  private def stopped(s: SparkSession): Boolean = s.sparkContext.isStopped

  /** The session memo for graph-derived artifacts: the loaded graph,
    * edge hoists, graph counts, memoized algorithm results (PageRank,
    * LPA, triangles), dup pairs, BPE merges. Every entry is keyed by
    * (session, `key`) — the key names the artifact and what it derives
    * from: a data dir, or a graph version by map identity
    * ([[graft.engine.Engine]]'s GraphKey) — and lives until its session
    * stops: entries of stopped sessions are forgotten on the next call.
    * What an entry holds (a pinned checkpoint, a `cache()`d frame or a
    * plain value) is the caller's choice; the memo never releases it.
    *
    * `build` runs at most once per key, even for concurrent first
    * callers (the losers wait on the key's slot, so no duplicate pin
    * leaks); a build that throws caches nothing and the next call builds
    * again. Builds may read other keys (lpaLabels → undirectedEdges →
    * GraphLoader.load): the map's own lock only guards slot creation,
    * and a build holds just its own slot's monitor. */
  def memo[A](s: SparkSession, key: Any)(build: => A): A = {
    memos.keySet.removeIf(k => stopped(k._1))
    val slot = memos.computeIfAbsent((s, key), _ => new Slot)
    slot.synchronized {
      slot.value.getOrElse { val v = build; slot.value = Some(v); v }
    }.asInstanceOf[A]
  }

  /** [[eager]] DEFERRED: the frame is checkpoint-MARKED but not yet
    * materialized — the caller's next full-scan action over it (a count,
    * a filtered count) doubles as the materializing job, folding the
    * iterative loops' convergence probes into the checkpoint
    * materialization instead of paying a separate job for each (in local
    * mode every job costs fixed scheduling latency that multiplies under
    * contention; on a cluster it costs a scheduler round-trip).
    * LocalRDDCheckpointData persists partitions as the first job
    * computes them and launches a top-up job for any the action skipped,
    * so even a partial scan yields a complete checkpoint. Tracked for
    * [[drain]] like [[eager]]. */
  def deferred(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = false)
    live.add(c)
    c
  }

  /** [[deferred]] for frames that appear MULTIPLE TIMES in one consuming
    * plan (a varpath frontier level feeds both its output-union branch
    * and the next hop's join): Catalyst deduplicates the repeated
    * LogicalRDD leaf with `newInstance`, which re-ids its output but
    * leaves the checkpoint's origin constraints on the old ids — the
    * union's constraint rewrite then fails with `key not found`. The
    * shim drops the origin constraints (stats kept); see
    * [[GraftShim.dropOriginConstraints]]. Drain ledger unchanged — the
    * stripped wrapper shares the tracked checkpoint's RDD. */
  def deferredShared(df: DataFrame): DataFrame =
    GraftShim.dropOriginConstraints(deferred(df))

  /** [[deferred]] with the hash partitioning preserved — same AQE flip
    * as [[eagerPartitioned]]; the plan (and with it the partitioning the
    * LogicalRDD leaf reports) is captured at mark time, so the flip only
    * needs to cover the mark, not the later materializing action. */
  def deferredPartitioned(df: DataFrame): DataFrame =
    withoutAqe(df)(deferred)

  /** [[eager]], but the checkpoint's hash partitioning survives: under
    * AQE, `localCheckpoint` captures the ADAPTIVE plan's output
    * partitioning — UnknownPartitioning — so every later consumer
    * re-shuffles the checkpointed frame even when it was just hash-
    * partitioned by the join key (measured: the SSSP/CC/BFS superstep
    * merge paid one extra full exchange of the accumulated frame per
    * superstep). Disabling AQE only for the checkpoint's own
    * materialization makes the captured partitioning concrete
    * (hashpartitioning, fixed partition count); consuming queries still
    * run under AQE and see a leaf they can co-partition against.
    * The temporary conf flip assumes a single-threaded session, which
    * [[withConfGate]] polices. */
  def eagerPartitioned(df: DataFrame): DataFrame =
    withoutAqe(df)(eager)

  /** Polices the single-threaded-session assumption every temporary
    * conf flip here relies on (ADVICE r06): a SECOND thread flipping
    * session conf mid-flip would silently run queries with AQE off or
    * the wrong shuffle-partition count. Reentrant (nested flips on one
    * thread compose); a cross-thread overlap fails loudly instead of
    * producing skewed plans. Shared with StreamingOps.withStreamShuffle. */
  private[graft] val confGate = new java.util.concurrent.locks.ReentrantLock()
  private[graft] def withConfGate[A](what: String)(body: => A): A = {
    if (!confGate.tryLock())
      throw new IllegalStateException(
        s"concurrent session-conf mutation ($what): the temporary conf " +
          "flips assume a single-threaded session")
    try body finally confGate.unlock()
  }

  /** Run `body` with `spark.sql.shuffle.partitions` set to `parts` —
    * the §2 lever for iterative superstep loops, whose per-superstep
    * label/frontier frames are orders of magnitude smaller than the
    * session default (= core count) assumes. Every exchange, aggregate
    * and checkpoint PLANNED inside `body` lands at `parts`; frames
    * built before the flip (the heavy loop-invariant edge hoists) keep
    * their compute-width placement, and a join between the two shuffles
    * only the small side up to the wide side's count (measured on
    * Spark 4.1: EnsureRequirements reuses the pre-partitioned side).
    * Same restore-or-unset + single-threaded-session discipline as
    * [[withoutAqe]]; reentrant with it (one lock). */
  def withShuffle[A](s: org.apache.spark.sql.SparkSession, parts: Int)(body: => A): A =
    withConfGate("loop shuffle partitions") {
      val conf = s.conf
      val key = "spark.sql.shuffle.partitions"
      val prev = conf.getOption(key)
      conf.set(key, parts.toString)
      try body finally prev match {
        case Some(v) => conf.set(key, v)
        case None    => conf.unset(key)
      }
    }

  /** Volume-derived shuffle-partition count for an iterative loop's
    * per-superstep frames (guide §2: size partitions to DATA, not to
    * core count — the session default, = cpus in the bench harness,
    * made every superstep of every iterative operator pay exchange +
    * localCheckpoint + scheduling × cores for frames of a few thousand
    * rows; measured at sf0.1/32 cores the whole iterative family ran
    * ~4× FASTER on 8 cores than 32 purely from this). `rows` is the
    * loop's per-superstep frame bound (|V| for label/distance frames,
    * |E|-scale for edge-rewrite loops), known to every caller from the
    * count it already runs (memo builds, convergence probes).
    * `spark.graft.superstep.rowsPerPartition` (default 250k rows ≈
    * 4-8 MB of narrow long columns) is the scale knob: at bench SFs it
    * yields single-digit partition counts, at 100 TB it grows linearly
    * with the data — never a constant tuned to either. The conf wins
    * over the `SPARK_GRAFT_SUPERSTEP_ROWS` environment variable; a value
    * that is not a positive integer fails here, naming its key. */
  def partsFor(s: org.apache.spark.sql.SparkSession, rows: Long): Int = {
    val confKey = "spark.graft.superstep.rowsPerPartition"
    val envKey = "SPARK_GRAFT_SUPERSTEP_ROWS"
    val (key, raw) = s.conf.getOption(confKey).map(confKey -> _)
      .orElse(sys.env.get(envKey).map(envKey -> _))
      .getOrElse(confKey -> "250000")
    val per = raw.toLongOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a positive row count, got '$raw'"))
    math.max(1L, math.min((rows + per - 1) / per, 1L << 18)).toInt
  }

  private def withoutAqe(df: DataFrame)(f: DataFrame => DataFrame): DataFrame =
    withConfGate("disable AQE for checkpoint") {
      val conf = df.sparkSession.conf
      val key = "spark.sql.adaptive.enabled"
      val prev = conf.getOption(key) // restore-or-unset, never bake in a default
      conf.set(key, "false")
      try f(df) finally prev match {
        case Some(v) => conf.set(key, v)
        case None    => conf.unset(key)
      }
    }

  /** Release one checkpoint's blocks now. */
  def drop(ds: Dataset[_]): Unit = {
    live.remove(ds)
    GraftShim.unpersistCheckpoint(ds)
  }

  /** Release every tracked checkpoint (harness hook, between queries).
    * The ledger is global to the JVM: checkpoints of a stopped session
    * have no blocks left to release (unpersisting them fails inside the
    * dead context's block manager), so they are only forgotten. */
  def drain(): Unit = {
    live.forEach(d => if (!stopped(d.sparkSession)) GraftShim.unpersistCheckpoint(d))
    live.clear()
  }
}
