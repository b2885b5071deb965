package graft

import org.apache.spark.sql.DataFrame
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
  */
object Bcast {
  val confKey = "spark.graft.bcastRowCap"
  val defaultCap = 4000000L

  def cap(df: DataFrame): Long =
    Knob.long(confKey, df.sparkSession.conf.get(confKey, defaultCap.toString), min = 0)

  /** `broadcast(df)` when the MEASURED row count of the frame (or a
    * conservative upper bound on it — e.g. the edge count for a
    * vertex-scale frame, |V| ≤ 2·|E|), scaled by the frame's column
    * count, fits the cell cap; `df` untouched otherwise, degrading the
    * consuming join to its shuffled form. */
  def gated(df: DataFrame, measuredRows: Long): DataFrame =
    if (measuredRows * math.max(1, df.schema.size) <= cap(df)) broadcast(df) else df
}
