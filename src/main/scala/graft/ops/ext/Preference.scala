package graft.ops.ext

import graft.ops.Iterate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bradley–Terry preference-strength estimation from pairwise win
  * counts — the aggregation that turns noisy head-to-head
  * comparisons (RLHF preference pairs, ranker A/B duels, supplier
  * price duels) into a single strength scale.
  *
  * Fitting uses the classic MM iteration (Hunter 2004, Ann. Stat.):
  * `π_i ← W_i / Σ_j g_ij/(π_i + π_j)` with a fixed alternation
  * count. Strengths re-quantize to 1e-6 fixed point between rounds
  * and each opponent term quantizes to 1e-6 BEFORE the per-player
  * sum, so every aggregation is an exact integer sum — order-free
  * and replayable by a sequential SQL oracle.
  *
  * Scale shape: the duel frame aggregates to one row per ordered
  * player pair (bounded by players², not by raw comparisons), and
  * each MM round is one broadcast join of the current strengths (one
  * row per player) onto that pair frame plus one hash aggregation.
  * Rounds are a fixed small constant; nothing touches the driver.
  */
object Preference {

  private val S = 1000000.0

  /** MM-fit strengths from an ordered-pair win-count frame.
    * `duels`: (i, j, wins) — wins of player i over player j, one row
    * per ordered pair. Returns (player, wins, games, strength).
    */
  def bradleyTerry(duels: DataFrame, rounds: Int = 3): DataFrame = {
    // symmetric games per ordered pair: g_ij = n_ij + n_ji, built by
    // folding the reversed frame in (no outer join, no null paths)
    // persisted: the pair frame is re-read every MM round (and the
    // duel construction upstream is typically a corpus-sized
    // self-join that must not replay per round)
    val pairs = duels
      .select(col("i"), col("j"), col("wins").as("w"), col("wins").as("g"))
      .unionAll(duels.select(col("j").as("i"), col("i").as("j"),
        lit(0L).as("w"), col("wins").as("g")))
      .groupBy("i", "j").agg(sum("w").as("w"), sum("g").as("g"))
      .persist()
    val totals = pairs.groupBy("i")
      .agg(sum("w").as("wins"), sum("g").as("games"))
      .persist()
    val piq = Iterate.rounds(
        totals.select(col("i"), lit(S.toLong).as("piq")), rounds) { piq =>
      val opp = piq.select(col("i").as("j"), col("piq").as("pjq"))
      pairs.join(broadcast(piq), "i").join(broadcast(opp), "j")
        .select(col("i"),
          floor(col("g").cast("double") /
            ((col("piq") + col("pjq")).cast("double") / S) * S + 0.5)
            .cast("long").as("tq"))
        .groupBy("i").agg(sum("tq").as("den"))
        .join(broadcast(totals.select(col("i"), col("wins"))), "i")
        .select(col("i"),
          floor(col("wins").cast("double") /
            (col("den").cast("double") / S) * S + 0.5)
            .cast("long").as("piq"))
    }
    totals.join(broadcast(piq), "i")
      .select(col("i").as("player"), col("wins"), col("games"),
        round(col("piq").cast("double") / S, 6).as("strength"))
  }
}
