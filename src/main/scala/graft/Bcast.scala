package graft

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Measured-count broadcast gate (VERDICT r15 item 1).
  *
  * A hard-coded `broadcast()` hint on a data-derived frame is a latent
  * executor OOM: the hint is unconditional, so on an input 1000× the
  * tested scale Spark ships the whole frame to every executor instead of
  * degrading to a shuffled join. The k-core peel's alive-set gate set the
  * discipline — measure the row count first (the frames in question are
  * already cached/checkpointed, so the count is one cheap job or free),
  * then attach the hint only under a row cap. Above the cap the hint is
  * simply absent and Catalyst picks the sort-merge/shuffled-hash form:
  * one extra exchange of the big side, still correct, never an OOM.
  *
  * The cap is a SESSION CONF (`spark.graft.bcastRowCap`) so plan tests
  * can force both shapes. The budget it denominates is 8-byte CELLS,
  * not rows (ADVICE r16: a 3-long-column oriented-edge frame at a pure
  * row cap was 3× the bytes the "packed longs" comment promised, and
  * several gated frames can be live in one plan): the gate compares
  * `rows × max(1, columns)` against the cap, so the default 4M cells
  * is ≈32 MB serialized REGARDLESS of schema width — a wide frame
  * degrades at proportionally fewer rows. Conf name kept for plan-test
  * compatibility; read it as "broadcast cell cap".
  *
  * The same cap gates the driver-local loops ([[collected]]): a graph
  * version whose undirected edge hoist fits the cap runs its cc and
  * bfs/sssp recurrences on the driver ([[graft.operators.Topology]]).
  * Here the cap is a driver memory budget, not a speed crossover: none
  * was found. On 4 vCPUs (local[4], 10 alternating fresh-JVM pairs per
  * size, `plans/pr17/README.md`) the driver loops were faster in every
  * pair at sf0.001, sf0.01 and sf0.1, whose 7.86M hoist cells are twice
  * the default cap: at sf0.1 a first cc took 13.3 s against 25.3 s and
  * bfs on the same version 4.6 s against 12.3 s (medians); at the two
  * smaller sizes the driver was 3.5-10× faster. What grows with the
  * version is the driver's heap: at the default cap one version holds up
  * to 16 MB of edges, 16 MB of their endpoints and 16 MB of node ids,
  * and a running kernel about as much again in its adjacency; a session
  * keeps at most twice the cap's cells of such arrays. A cap of 0 closes
  * both gates.
  */
object Bcast {
  val confKey = "spark.graft.bcastRowCap"
  val defaultCap = 4000000L

  def cap(s: SparkSession): Long =
    Knob.long(confKey, s.conf.get(confKey, defaultCap.toString), min = 0)

  /** `broadcast(df)` when the MEASURED row count of the frame (or a
    * conservative upper bound on it — e.g. the edge count for a
    * vertex-scale frame, |V| ≤ 2·|E|), scaled by the frame's column
    * count, fits the cell cap; `df` untouched otherwise, degrading the
    * consuming join to its shuffled form. */
  def gated(df: DataFrame, measuredRows: Long): DataFrame =
    if (measuredRows * math.max(1, df.schema.size) <= cap(df.sparkSession)) broadcast(df) else df

  /** The long columns of `df` on the driver, row-major in one array,
    * when `copies` copies of the frame fit the cell cap; `None` above it.
    * The cap allows cap / (copies × columns) rows. No job runs when it
    * allows none, or when the plan's size estimate already holds more
    * (Spark sizes a row of n longs at 8·(n + 1) bytes). The estimate is
    * the lesser of the plan's statistics and the bytes its leaves read:
    * Spark estimates a join at the product of its sides, so a mutated
    * edge relation with a cross join in its plan reads as terabytes. A
    * cache the plan reads is built first ([[GraftShim.buildCaches]]): an
    * unbuilt cache is estimated at its compressed files, which put the
    * sf0.1 edges (≈2M) at a quarter of their rows, under the cap, and
    * cost a 1M-row collect that was thrown away. Otherwise one collect
    * ([[GraftShim.collectLongs]]) reads at most one row more than
    * allowed, so it both measures the frame and loads it. */
  def collected(df: DataFrame, copies: Int): Option[Array[Long]] = {
    val width = math.max(1, df.schema.size)
    val rows = math.min(cap(df.sparkSession) / (copies.toLong * width), Int.MaxValue / width - 1L)
    if (rows <= 0 || estimatedRows(df) > rows) None
    else Some(GraftShim.collectLongs(df.limit(rows.toInt + 1))).filter(_.length <= rows * width)
  }

  /** `df`'s rows as its plan's size estimate puts them ([[collected]]). */
  private def estimatedRows(df: DataFrame): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    GraftShim.buildCaches(plan)
    plan.invalidateStatsCache()
    plan.stats.sizeInBytes.min(plan.collectLeaves().map(_.stats.sizeInBytes).sum) /
      (8 * (math.max(1, df.schema.size) + 1))
  }
}
