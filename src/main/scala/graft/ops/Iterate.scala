package graft.ops

import org.apache.spark.sql.DataFrame

/** The round driver of the iterative operators (PageRank, k-core,
  * k-truss, Bradley–Terry, Weiszfeld, power iteration, connected
  * components): one place decides how a round's frame is cut.
  *
  * Every round's output is a LAZY `localCheckpoint`. A round that reads
  * its predecessor k times carries, uncut, a lineage of k^r copies after
  * r rounds — 2^r for a frontier join plus its anti-join, 3^r for a
  * triangle pass — and analysing that tree alone exhausts the driver
  * long before any data moves. The cut is lazy because no job should run
  * per round: the caller's action materializes every round inside one
  * job, and round r+1 reads round r's blocks instead of recomputing
  * them. An operator whose result is read several times materializes it
  * eagerly itself, and says why at that site.
  *
  * The blocks outlive the loop. Releasing them is not the operator's
  * job: [[graft.exec.Scope.run]] frees everything a query created once
  * its action is done.
  */
object Iterate {

  /** `n` applications of `step` to `init`, each round's frame cut
    * lazily; returns the last round (`init` itself when `n` is 0).
    */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame)
      : DataFrame =
    (1 to n).foldLeft(init)((cur, _) => step(cur).localCheckpoint(false))

  /** `step` until `probe` returns the same value two rounds running, or
    * `maxRounds` rounds. `probe` is one driver job per round (and one on
    * `init`); it is what materializes each lazily cut round.
    */
  def untilStable[P](init: DataFrame, maxRounds: Int,
      probe: DataFrame => P)(step: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var last = probe(init)
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      cur = step(cur).localCheckpoint(false)
      val now = probe(cur)
      stable = now == last
      last = now
      round += 1
    }
    cur
  }
}
