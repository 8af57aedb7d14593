package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame

/** The one driver of the fixed-round loops: [[Graphs]]' eight
  * iterations and [[Bpe.bpeTrain]]'s merges. Each loop passes its
  * measured checkpoint cadence as a private constant; the driver owns
  * the rule.
  *
  * Round `i`'s state is checkpointed when `i` is a multiple of the
  * cadence and `i` is not the last round. A cut bounds the lazy plan
  * the next rounds build on. The last round's state is consumed right
  * away, so checkpointing it is pure waste: the eager `localCheckpoint`
  * runs its plan without AQE (measured 57 s against 2.5 s on 8-round
  * k-core checkpointing at round 8 or not).
  */
object Rounds {

  /** Runs up to `rounds` steps from `init` and returns the last state.
    * `step` builds the next state from the current one, or returns
    * `None` to end the loop early with the current state. A
    * checkpoint's jobs carry the call site `"<loop> round i/rounds"`,
    * so job listeners (and the specs) can see which rounds were cut.
    */
  def run(loop: String, rounds: Int, every: Int, init: DataFrame)(
      step: DataFrame => Option[DataFrame]): DataFrame = {
    @tailrec def go(cur: DataFrame, i: Int): DataFrame =
      if (i > rounds) cur
      else step(cur) match {
        case None => cur
        case Some(next) =>
          go(if (i % every == 0 && i < rounds) checkpoint(next, s"$loop round $i/$rounds") else next,
            i + 1)
      }
    go(init, 1)
  }

  private def checkpoint(df: DataFrame, site: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("callSite.short")
    sc.setLocalProperty("callSite.short", site)
    try df.localCheckpoint(true)
    finally sc.setLocalProperty("callSite.short", prev)
  }
}
