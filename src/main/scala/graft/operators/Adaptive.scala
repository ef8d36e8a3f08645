package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Statistics-driven plan decisions shared by operators (r18).
  *
  * The one decision here is the BARRIER TRADE: a frame consumed by
  * several downstream branches either re-computes per branch (Spark has
  * no automatic common-subtree materialization — column pruning projects
  * each branch differently, so even identical repartitions stop
  * canonicalizing equal and ReuseExchange never fires; the r17 audit) or
  * materializes once behind a `localCheckpoint`, paying one fixed extra
  * job. Which side wins is purely a function of how much input the
  * re-computed subtree scans: the r18 heavy-tier A/B measured the
  * crossover directly — `q_user_quartiles` LOSES ~0.1 s with an
  * unconditional barrier at sf0.1 (events ≈ 2 MB; the fixed job costs
  * more than two extra overhead-sized scans) and WINS 1.16 → 0.79 s at
  * the 10× tier (events ≈ 21 MB), with the gap growing linearly in input
  * size from there. So the barrier dispatches on the INPUT's size
  * statistic, exactly like a cost-based optimizer's materialization
  * rule: under `graft.barrier.minInputBytes` (default 4 MB — above every
  * sf0.1 input, below every 10×-tier fact/corpus input) the plan is unchanged;
  * above it the shared frame checkpoints. At the 100 TB design point the
  * barrier is always on; the conf exists so the crossover is tunable per
  * deployment rather than baked to this host (the scale-dependent-
  * settings rule).
  *
  * Results are barrier-independent by construction (a barrier only
  * materializes the identical rows). The localCheckpoint fault-tolerance
  * caveat recorded at the other barrier sites applies here too.
  */
object Adaptive {
  val MinInputBytesKey = "graft.barrier.minInputBytes"
  val MinInputBytesDefault: Long = 4L << 20

  /** `shared` materializes iff `sizedOn`'s estimated scan size exceeds
    * the threshold. `sizedOn` is the INPUT the shared subtree re-scans
    * per consumer (not the shared frame itself, whose post-aggregation
    * estimate says nothing about the cost of re-computing it). A
    * non-numeric threshold (a typo such as "4MB") falls back to the
    * default instead of failing every barriered query.
    */
  def barrierIfBig(shared: DataFrame, sizedOn: DataFrame): DataFrame = {
    val minBytes = shared.sparkSession.conf.getOption(MinInputBytesKey)
      .flatMap(_.toLongOption).getOrElse(MinInputBytesDefault)
    if (sizedOn.queryExecution.optimizedPlan.stats.sizeInBytes > minBytes)
      shared.localCheckpoint(eager = false)
    else shared
  }

  /** Count-gated broadcast for a frame that is TINY by a structural
    * argument the planner cannot see (a posting-list intersection, a
    * band-probe candidate set) but UNBOUNDED in the adversarial case —
    * the r18 phraseSearch mechanism, shared. Without a gate the
    * alternatives are an unconditional hint (8 GB broadcast cap / driver
    * OOM under the adversarial input — r17 ADVICE) or no hint (the big
    * probe side of the join shuffles wholesale — measured as a
    * SortMergeJoin over the full chunk-vector table in the passage serve
    * plan). Two tiers:
    *
    *  - STRUCTURAL SHORTCUT (free): `df`'s row count is bounded by
    *    `boundedBy`'s (candidates are a members/bands subset), so when
    *    that table's size statistic is at most `cap` longs' worth of
    *    bytes, even the degenerate expansion broadcasts at a small
    *    multiple of a ~32 MB table — orders of magnitude under the
    *    broadcast hard limit. The hint applies unconditionally and the
    *    plan is the zero-extra-job r17 shape (this is every small-tier
    *    call, so the driver bench pays nothing for the safety).
    *  - COUNT GATE (two small jobs): past that, the frame materializes
    *    once (eager localCheckpoint), the count over the materialized
    *    partitions decides, and both the under-cap broadcast and the
    *    over-cap fallback (planner/AQE choosing from actual sizes) read
    *    the same materialization — the subtree never executes twice.
    *    Measured parity with the unsafe unconditional hint at the r18
    *    10× tier; the relative probe cost only shrinks from there.
    *
    * Results are gate-independent: a hint never changes rows. The
    * default cap (4M rows) stays far under the broadcast hard limit for
    * narrow id frames.
    */
  def broadcastGate(df: DataFrame, boundedBy: DataFrame,
                    cap: Int = 4 << 20): DataFrame = {
    if (boundedBy.queryExecution.optimizedPlan.stats.sizeInBytes <= cap.toLong * 8)
      broadcast(df)
    else {
      val ck = df.localCheckpoint(eager = true)
      if (ck.count() <= cap) broadcast(ck) else ck
    }
  }
}
