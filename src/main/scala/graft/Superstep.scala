package graft

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}

/** The one superstep driver: every iterative graph loop (the
  * [[graft.operators.GraphAlgos]] kernels and the engine's unbounded
  * varpath closure) runs through [[converge]] or [[rounds]]. A kernel
  * supplies its first state, its step and its probe (or its round
  * count); the driver owns what every loop repeats:
  *
  *   - the loop width: with `parts` > 0 the whole loop, its first state
  *     included, is planned with `spark.sql.shuffle.partitions` at
  *     `parts` (a volume-derived count, [[Ckpt.partsFor]]; guide §2) —
  *     a thread-scoped overlay ([[GraftShim.withConf]]), so the session
  *     conf never changes. Every exchange and checkpoint planned inside
  *     lands at that width; frames planned before (the edge hoists) keep
  *     theirs, and a join against one keeps that width or broadcasts the
  *     loop side (both in the sf0.001 superstep plans, plans/pr9/).
  *   - the checkpoint lifecycle, one rule for every loop: a superstep's
  *     frame is checkpoint-MARKED ([[Ckpt.deferred]], planned without
  *     AQE so the mark keeps its hash partitioning, unless the step
  *     names another mark) and its probe — a count or another
  *     full-scan aggregate over the marked frame — is the job that
  *     materializes it, so a superstep runs one job (LocalRDDCheckpoint
  *     persists partitions as the probe computes them and tops up any it
  *     skipped). Once a superstep is decided, every checkpoint the loop
  *     owns that the new state no longer reads is released: the frames
  *     of the state it replaces, and its own frame when the state does
  *     not read it. A kernel's `frames` names the checkpoints a state
  *     reads; the first state's frames belong to the loop, so a caller's
  *     input is never among them. The result state's frames stay live
  *     for the caller.
  *   - the step counter, its limit and the one loud non-convergence
  *     error: a loop still going after `limit` supersteps fails with an
  *     IllegalArgumentException naming the loop — never a silent
  *     truncation, which the unrolled oracles would hash-match
  *     (VERDICT r02).
  *   - for fixed-round loops, the checkpoint cadence; reaching the round
  *     count is the normal end. */
object Superstep {

  /** One superstep's outcome, built by a kernel's step. */
  sealed trait Step[+S]

  /** Not converged: the loop goes on from `state`. */
  final case class More[S](state: S) extends Step[S]

  /** Converged: `state` is the loop's result. */
  final case class Done[S](state: S) extends Step[S]

  /** [[Done]] when `done`, else [[More]]. */
  def doneIf[S](done: Boolean)(state: S): Step[S] = if (done) Done(state) else More(state)

  /** Checkpoint `frame` with `mark`, materialize it with `probe`, and let
    * `next` decide from the marked frame and the probe's value. */
  final case class Probe[S](frame: DataFrame, probe: DataFrame => Long = _.count(),
      mark: DataFrame => DataFrame = f => Ckpt.deferred(GraftShim.nonAdaptive(f)))(
      val next: (DataFrame, Long) => Step[S]) extends Step[S]

  /** Run `step` from `first` until it is [[Done]]; `step` also gets the
    * superstep's number, from 1. `frames` lists the loop-owned
    * checkpoints a state reads. Returns the result state and the
    * supersteps used, the converging one included; `hint` is appended to
    * the non-convergence message. */
  def converge[S](s: SparkSession, what: String, limit: Int, parts: Int = 0, hint: String = "")(
      first: => S)(frames: S => Seq[DataFrame])(step: (S, Int) => Step[S]): (S, Int) =
    at(s, parts) {
      @annotation.tailrec
      def loop(state: S, n: Int): (S, Int) = {
        if (n == limit)
          throw new IllegalArgumentException(
            s"$what not converged after $limit supersteps$hint")
        val made = List.newBuilder[DataFrame]
        def decide(st: Step[S]): Step[S] = st match {
          case p: Probe[S @unchecked] =>
            val f = p.mark(p.frame)
            made += f
            decide(p.next(f, p.probe(f)))
          case end => end
        }
        val out = decide(step(state, n + 1))
        val next = out match {
          case More(st) => st
          case Done(st) => st
          case _: Probe[_] => throw new IllegalStateException("undecided superstep")
        }
        val live = frames(next)
        (frames(state) ++ made.result()).filterNot(live.contains).distinct.foreach(Ckpt.drop)
        out match {
          case Done(_) => (next, n + 1)
          case _ => loop(next, n + 1)
        }
      }
      loop(first, 0)
    }

  /** A fixed-round loop over one frame: `step` runs `n` times from
    * `first`. Every `every`-th round and the last are checkpointed
    * ([[Ckpt.eagerPartitioned]]: the frame's id partitioning stays live
    * through the checkpoint), and each checkpoint releases the one before
    * it, `first` included. */
  def rounds(n: Int, every: Int = 1)(first: DataFrame)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft((first, first)) { case ((state, last), i) =>
      val next = step(state)
      if (i % every != 0 && i != n) (next, last)
      else {
        val c = Ckpt.eagerPartitioned(next)
        Ckpt.drop(last)
        (c, c)
      }
    }._1

  private def at[A](s: SparkSession, parts: Int)(body: => A): A =
    if (parts <= 0) body
    else GraftShim.withConf(s, "spark.sql.shuffle.partitions" -> parts.toString)(body)
}
