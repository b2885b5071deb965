package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftShim, SparkSession}
import scala.util.DynamicVariable

/** Eager and deferred localCheckpoints, and who releases them.
  *
  * Iterative operators (connected components, PageRank, dup clustering)
  * and the engine's mutation pipeline cut lineage with `localCheckpoint`
  * — but Spark never frees those blocks, so a 9-superstep algorithm pins
  * 18 materialized frames and a 78-query bench session accumulates
  * hundreds (measured: the same queries run 2-3× slower at the end of a
  * full bench run than in isolation, from block eviction churn).
  *
  * Every checkpoint has one owner:
  *   - one made while a [[memo]] build runs belongs to that memo entry
  *     and lives as long as the entry; no drain reaches it;
  *   - otherwise it belongs to the innermost [[scope]] open on the
  *     current thread — a `DynamicVariable`, so a thread started inside a
  *     scope (a streaming query's execution thread) inherits it;
  *   - with no scope open, to the JVM's root ledger.
  * Loops and operators [[drop]] a checkpoint the moment nothing live
  * reads it; [[drain]] releases the current owner's checkpoints except
  * those given frames still read (a graph version carried to the next
  * statement); a scope drains when it exits. A released localCheckpoint
  * is unrecoverable (no lineage).
  */
object Ckpt {
  /** One owner's checkpoints, by RDD id. */
  private type Ledger = java.util.Map[Int, RDD[_]]
  private def ledger(): Ledger = new java.util.concurrent.ConcurrentHashMap[Int, RDD[_]]()

  /** The current owner; the initial value is the root ledger. */
  private val owner = new DynamicVariable[Ledger](ledger())

  private def track(c: DataFrame): DataFrame = {
    GraftShim.checkpointRdd(c).foreach(r => owner.value.put(r.id, r)); c
  }

  /** Eager localCheckpoint, owned as above. */
  def eager(df: DataFrame): DataFrame = track(df.localCheckpoint(eager = true))

  /** One build slot per memo key; the slot's monitor serializes builds
    * of ITS key only. */
  private final class Slot { var value: Option[Any] = None }

  private val memos = new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any), Slot]()

  /** The session memo for graph-derived artifacts: the loaded graph,
    * edge hoists, graph counts, memoized algorithm results (PageRank,
    * LPA, triangles), dup pairs, BPE merges. Every entry is keyed by
    * (session, `key`) — the key names the artifact and what it derives
    * from: a data dir, or a graph version by map identity (the rule is
    * on [[graft.operators.Topology]]) — and lives until its session
    * stops: entries of stopped sessions are forgotten on the next call.
    * What an entry holds (a checkpoint its build made, a `cache()`d frame
    * or a plain value) is the caller's choice; the memo never releases
    * it. A build that throws caches nothing, releases the checkpoints it
    * made, and the next call builds again.
    *
    * `build` runs at most once per key, even for concurrent first
    * callers (the losers wait on the key's slot, so no duplicate build
    * leaks). Builds may read other keys (lpaLabels → the topology's hoist
    * → GraphLoader.load): the map's own lock only guards slot creation,
    * and a build holds just its own slot's monitor. */
  def memo[A](s: SparkSession, key: Any)(build: => A): A = {
    memos.keySet.removeIf(_._1.sparkContext.isStopped)
    val slot = memos.computeIfAbsent((s, key), _ => new Slot)
    slot.synchronized {
      slot.value.getOrElse {
        val made = ledger()
        val v = try owner.withValue(made)(build)
        catch { case e: Throwable => release(made, Set.empty); throw e }
        slot.value = Some(v); v
      }
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
    * so even a partial scan yields a complete checkpoint. */
  def deferred(df: DataFrame): DataFrame = track(df.localCheckpoint(eager = false))

  /** [[deferred]] for frames that appear MULTIPLE TIMES in one consuming
    * plan (a varpath frontier level feeds both its output-union branch
    * and the next hop's join): Catalyst deduplicates the repeated
    * LogicalRDD leaf with `newInstance`, which re-ids its output but
    * leaves the checkpoint's origin constraints on the old ids — the
    * union's constraint rewrite then fails with `key not found`. The
    * shim drops the origin constraints (stats kept); see
    * [[GraftShim.dropOriginConstraints]]. The stripped wrapper shares the
    * tracked checkpoint's RDD. */
  def deferredShared(df: DataFrame): DataFrame =
    GraftShim.dropOriginConstraints(deferred(df))

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
    * with the data — never a constant tuned to either. A value that is
    * not a positive integer fails here, naming its key. */
  def partsFor(s: SparkSession, rows: Long): Int = {
    val key = "spark.graft.superstep.rowsPerPartition"
    val per = Knob.long(key, s.conf.getOption(key).getOrElse("250000"), min = 1)
    math.max(1L, math.min((rows + per - 1) / per, 1L << 18)).toInt
  }

  /** Release one checkpoint's blocks now. */
  def drop(ds: Dataset[_]): Unit =
    GraftShim.checkpointRdd(ds).foreach { r => owner.value.remove(r.id); GraftShim.unpersist(r) }

  /** Release the current owner's checkpoints, except those a `keep`
    * frame reads: an RDD leaf of its plan, or an RDD in the lineage of a
    * leaf not checkpointed yet (a [[deferred]] mark before its first
    * job). The kept ones stay with the owner for a later drain. */
  def drain(keep: DataFrame*): Unit =
    release(owner.value, keep.flatMap(GraftShim.rddsRead).toSet)

  /** Run `body` as the owner of the checkpoints it makes (see above),
    * and release them all when it exits. */
  def scope[A](body: => A): A = {
    val own = ledger()
    try owner.withValue(own)(body) finally release(own, Set.empty)
  }

  /** Checkpoints of a stopped context have no blocks left to release
    * (unpersisting them fails inside the dead context's block manager),
    * so they are only forgotten. */
  private def release(l: Ledger, kept: Set[Int]): Unit =
    l.values.removeIf { r =>
      val dead = r.sparkContext.isStopped
      if (!dead && !kept(r.id)) GraftShim.unpersist(r)
      dead || !kept(r.id)
    }
}
