package graft.analytics

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame

/** The one iteration policy of the graph operators: where the
  * iterative lineage is cut and when a loop stops. Without a cut,
  * round k re-plans rounds 1..k-1 and the plan doubles per round;
  * callers hand over one round as a function and never call
  * `localCheckpoint` themselves.
  *
  * Two shapes:
  *  - `rounds`: a FIXED number of rounds (PageRank, label propagation)
  *    — the output of round n is the answer, there is nothing to probe.
  *  - `toFixpoint`: run until a caller-supplied probe repeats, bounded
  *    by `maxRounds` (BFS, k-core, connected components). The probe's
  *    action is the job that materializes each round's lazily
  *    checkpointed frame, so a round costs ONE job, not an eager
  *    checkpoint job plus a probe job (connected components on the
  *    sf0.1 pixel pair graph: 6.07 s -> 5.11 s, output identical).
  */
object Iterate {

  /** Rounds between eager cuts in `rounds`. Each eager checkpoint is a
    * blocking job (about the per-round floor at small N), while the
    * lineage between cuts is only this many rounds deep. Measured on
    * PageRank over the sf0.1 kNN graph (5k nodes, 10 iterations,
    * warm): every 1 round 9.2 s, every 2 rounds 8.5 s, every 5 rounds
    * 13.5 s (re-analysing the deeper lineage costs more than the jobs
    * saved); results bit-identical.
    */
  val CheckpointEvery: Int = 2

  /** `step` applied `n` times to `init`. `init` is checkpointed
    * eagerly, then every `CheckpointEvery` rounds and after the last
    * one, so the returned frame reads from a checkpointed RDD.
    */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame = {
    require(n >= 1, s"Iterate.rounds: n must be >= 1, got $n")
    (1 to n).foldLeft(init.localCheckpoint(eager = true)) { (df, i) =>
      val next = step(df)
      if (i % CheckpointEvery == 0 || i == n) next.localCheckpoint(eager = true)
      else next
    }
  }

  /** A `toFixpoint` result: the last frame, the number of steps run,
    * and whether the loop stopped on a repeated probe value (false =
    * it stopped at `maxRounds`).
    */
  final case class Fixpoint(frame: DataFrame, rounds: Int, converged: Boolean)

  /** Iterate `step(frame, round)` (round is 0-based) until `probe`
    * returns the same value for two consecutive frames, or `maxRounds`
    * steps have run. The starting frame is probed too, so a start that
    * is already a fixpoint stops after one step. Every frame is
    * checkpointed lazily and `probe` — which must run an action on it —
    * materializes it.
    */
  def toFixpoint[P](init: DataFrame, maxRounds: Int)(probe: DataFrame => P)(
      step: (DataFrame, Int) => DataFrame): Fixpoint = {
    require(maxRounds >= 1, s"Iterate.toFixpoint: maxRounds must be >= 1, got $maxRounds")
    @tailrec def loop(df: DataFrame, prev: P, i: Int): Fixpoint =
      if (i == maxRounds) Fixpoint(df, i, converged = false)
      else {
        val next = step(df, i).localCheckpoint(eager = false)
        val cur = probe(next)
        if (cur == prev) Fixpoint(next, i + 1, converged = true)
        else loop(next, cur, i + 1)
      }
    val start = init.localCheckpoint(eager = false)
    loop(start, probe(start), 0)
  }
}
