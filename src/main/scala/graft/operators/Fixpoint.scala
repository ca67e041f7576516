package graft.operators

import org.apache.spark.graft.CheckpointRelease
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/** The one round driver of the engine's iterative DataFrame loops — the
  * Pregelix posture (one iteration runtime for every vertex program).
  *
  *  - Cut: each round's output is an eager `localCheckpoint`, or on every
  *    `durableEvery`-th round a reliable `checkpoint` (the reference's
  *    buffer-pool checkpoint, `buffer_pool.cpp:363-377`), so the plan tree
  *    does not grow with the rounds. The initial state is cut too, so
  *    round 1 and its signature read one materialization — unless it is a
  *    driver-local relation.
  *  - Release: once a round is cut, the cut before it is released by
  *    unpersisting its checkpointed RDD (`Dataset.unpersist()` cannot: a
  *    checkpointed frame holds no CacheManager entry). The caller's frames
  *    and the returned state are never released.
  *  - Stop: with a signature, after the first round whose signature
  *    equals the previous one's. */
object Fixpoint {

  /** Eager cut of `df`: reliable when `durable`, else executor-local. */
  private[graft] def cut(df: DataFrame, durable: Boolean = false): DataFrame =
    if (durable) df.checkpoint(true) else df.localCheckpoint(true)

  /** Unpersist the checkpointed RDD under a [[cut]]; any other frame is
    * left alone. */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => CheckpointRelease(r.rdd)
      case _ =>
    }

  /** One round's cut-and-release: cut `next`, then release `prev`. */
  private[graft] def advance(prev: DataFrame, next: DataFrame,
      durable: Boolean = false): DataFrame = {
    val c = cut(next, durable)
    release(prev)
    c
  }

  /** Run `step(state, round)` from `init` for at most `maxRounds` rounds.
    * A `signature` costs one Spark job per round; the initial state's is
    * `initialSignature` when the caller knows it without one. Returns the
    * last state and the rounds run. */
  private[graft] def run[K](init: DataFrame, maxRounds: Int,
      durableEvery: Int = 0, signature: Option[DataFrame => K] = None,
      initialSignature: Option[K] = None)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    require(durableEvery == 0 ||
        init.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
      "durableEvery > 0 needs spark.sparkContext.setCheckpointDir(...)")
    var state =
      if (init.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) init
      else cut(init)
    var seen = signature.map(f => initialSignature.getOrElse(f(state)))
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      round += 1
      val durable = durableEvery > 0 && round % durableEvery == 0
      val next = step(state, round)
      state = if (state eq init) cut(next, durable)
              else advance(state, next, durable)
      signature.foreach { f =>
        val now = f(state)
        stable = seen.contains(now)
        seen = Some(now)
      }
    }
    (state, round)
  }
}
