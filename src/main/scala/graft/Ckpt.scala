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
  *   - the superstep driver ([[Superstep]]) and the operators [[drop]] a
  *     checkpoint the moment nothing live reads it anymore;
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
    GraftShim.nonAdaptive(df).localCheckpoint(eager = true)

  /** One build slot per memo key; the slot's monitor serializes builds
    * of ITS key only. */
  private final class Slot { var value: Option[Any] = None }

  private val memos = new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any), Slot]()

  private def stopped(s: SparkSession): Boolean = s.sparkContext.isStopped

  /** The session memo for graph-derived artifacts: the loaded graph,
    * edge hoists, graph counts, memoized algorithm results (PageRank,
    * LPA, triangles), dup pairs, BPE merges. Every entry is keyed by
    * (session, `key`) — the key names the artifact and what it derives
    * from: a data dir, or a graph version by map identity (the rule is
    * on [[graft.operators.Topology]]) — and lives until its session
    * stops: entries of stopped sessions are forgotten on the next call.
    * What an entry holds (a pinned checkpoint, a `cache()`d frame or a
    * plain value) is the caller's choice; the memo never releases it.
    *
    * `build` runs at most once per key, even for concurrent first
    * callers (the losers wait on the key's slot, so no duplicate pin
    * leaks); a build that throws caches nothing and the next call builds
    * again. Builds may read other keys (lpaLabels → the topology's hoist
    * → GraphLoader.load): the map's own lock only guards slot creation,
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

  /** [[deferred]] with the hash partitioning preserved, as in
    * [[eagerPartitioned]]: the leaf's partitioning is fixed at mark time,
    * so the later materializing action plans as usual. */
  def deferredPartitioned(df: DataFrame): DataFrame =
    deferred(GraftShim.nonAdaptive(df))

  /** [[eager]], but the checkpoint's hash partitioning survives: under
    * AQE, `localCheckpoint` captures the ADAPTIVE plan's output
    * partitioning — UnknownPartitioning — so every later consumer
    * re-shuffles the checkpointed frame even when it was just hash-
    * partitioned by the join key (measured: the SSSP/CC/BFS superstep
    * merge paid one extra full exchange of the accumulated frame per
    * superstep). Planning only the checkpoint itself without AQE
    * ([[GraftShim.nonAdaptive]]) keeps the concrete hashpartitioning;
    * consumers still run under AQE and co-partition against the leaf. */
  def eagerPartitioned(df: DataFrame): DataFrame =
    eager(GraftShim.nonAdaptive(df))

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
    val per = Knob.long(key, raw, min = 1)
    math.max(1L, math.min((rows + per - 1) / per, 1L << 18)).toInt
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
