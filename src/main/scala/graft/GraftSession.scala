package graft

import org.apache.spark.sql.SparkSession

/** The ONE session-conf block shared by every driver-contract main
  * (Bench, Verify, Scratch, PlanDump) — extracted in r22 (ADVICE r21):
  * the block had been copy-pasted into four builders, and Verify had
  * already drifted (no explicit AQE line — correct only because the
  * upstream default is true). A conf that differs between Bench and
  * Verify would make Verify certify DIFFERENT plans than the bench
  * runs; keeping the map in one place makes every future join/AQE conf
  * change atomic across all four.
  *
  * The builder also loads [[graft.plans.GraftExtensions]], Graft's one
  * install point for its SQL functions and the as-of strategy.
  *
  * PlanAudit and ScaleRehearsal deliberately keep their own builders:
  * PlanAudit's counts are compared against r4-onward history captured
  * at local[4] without the r21 join confs, and ScaleRehearsal
  * parameterizes shuffle partitions per leg. ScaleRehearsal loads the
  * extension itself; PlanAudit's session does not, and relies on the
  * install SparkEntry.queries applies before building each query.
  */
object GraftSession {

  /** Conf pairs every measured/verified session runs with. `cpus`
    * feeds shuffle parallelism (scale-adaptive: the driver benches at
    * 32 and 8 cores); the rest are the fixed values OPTIMIZATION_r21.md
    * §4 measured and justified:
    *  - AQE on (coalescing, runtime join conversion, skew splits);
    *  - preferSortMergeJoin=false (guide §3.1/§9): shuffled hash join
    *    where its size conditions hold — skips both sides' sorts; the
    *    hint-pinned SMJ demos (q_join_sortmerge/bucketed) unaffected;
    *  - maxShuffledHashJoinLocalMapThreshold=64m: AQE's RUNTIME
    *    SMJ→SHJ conversion (upstream default 0 = off) — reaches joins
    *    over localCheckpoint'd inputs whose sizes exist only after the
    *    shuffle; bounded per post-shuffle partition, so memory-safe;
    *  - UTC session timezone (events NTZ→TZ cast must be
    *    instant-preserving on both engines);
    *  - UI off (no use for it headless; saves startup work).
    */
  def confs(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** `local[cpus]` builder carrying [[confs]] and GraftExtensions —
    * `.getOrCreate()` and per-main extras are the caller's.
    */
  def builder(cpus: String): SparkSession.Builder =
    confs(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")
        .withExtensions(new graft.plans.GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
