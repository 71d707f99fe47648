package graft.operators

import org.apache.spark.sql.DataFrame

/** Generic iterative-fixpoint executor — the engine's hand-rolled twin of a
  * recursive CTE (`WITH RECURSIVE anchor UNION ALL step`). Spark 4 executes
  * recursive CTEs through `UnionLoopExec`, which drives the loop from the
  * planner and materializes every iteration; this operator exposes the same
  * semantics as a library call with two properties the built-in loop lacks:
  *
  *   - **Lineage truncation per round.** Each frontier is pinned
  *     ([[Materialize.pin]]) so round N's plan never embeds rounds 0..N-1 —
  *     without it the step plan nests once per round and planning itself
  *     goes super-linear.
  *   - **Executor-loss tolerance.** Under `spark.graft.materialize=durable`
  *     every frontier is a reliable checkpoint: a lost executor re-reads a
  *     round's files instead of restarting the whole recursion — the
  *     difference between "documented" and "works" for a multi-hour 100 TB
  *     walk.
  *
  * The emptiness probe rides each round's pin job as an observed count —
  * one action per round, no extra pass.
  */
object IterativeFixpoint {

  /** @param anchor   round-0 frontier (the recursive CTE's anchor term)
    * @param step     maps frontier N to frontier N+1 (the recursive term);
    *                 must preserve the anchor's schema
    * @param maxRounds hard recursion bound (mirrors
    *                 `spark.sql.cteRecursionLevelLimit`'s role)
    * @return the union of every round's frontier (rounds 0..K, K = first
    *         empty frontier), exactly the recursive CTE's result set
    */
  def iterate(anchor: DataFrame, step: DataFrame => DataFrame,
      maxRounds: Int = 100): DataFrame = {
    var Pinned(frontier, n, _) = Materialize.pin(anchor, "fix_round_0")
    val anchorSchema = frontier.schema
    val rounds = scala.collection.mutable.ArrayBuffer(frontier)
    var round = 0
    while (n > 0 && round < maxRounds) {
      round += 1
      val nextPlan = step(frontier)
      require(nextPlan.schema.map(f => (f.name, f.dataType)) ==
        anchorSchema.map(f => (f.name, f.dataType)),
        s"step changed the frontier schema at round $round: " +
          s"${nextPlan.schema.simpleString} vs ${anchorSchema.simpleString}")
      val next = Materialize.pin(nextPlan, s"fix_round_$round")
      frontier = next.df
      n = next.rows
      if (n > 0) rounds += frontier
    }
    require(n == 0, s"iterative fixpoint: frontier still non-empty after " +
      s"$maxRounds rounds ($n rows)")
    rounds.reduce(_ union _)
  }
}
