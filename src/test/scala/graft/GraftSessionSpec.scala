package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shared session-conf contract (r22, ADVICE r21): every
  * driver-contract main builds its session from GraftSession, so this
  * map IS the bench/verify/scratch/plan-dump configuration. A key
  * disappearing or a default drifting here would silently change what
  * Verify certifies vs what Bench times — exactly the drift the
  * extraction exists to prevent.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("the shared conf map carries the full r21 join/AQE block with its defaults") {
    val m = GraftSession.confs("7").toMap
    assert(m("spark.sql.shuffle.partitions") == "7",
      "shuffle parallelism must track the cpu argument (scale-adaptive, not a constant)")
    // the fixed values OPTIMIZATION_r21.md §4 measured; no env overrides them
    assert(m("spark.sql.adaptive.enabled") == "true")
    assert(m("spark.sql.join.preferSortMergeJoin") == "false")
    assert(m("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == "64m")
    assert(m("spark.sql.session.timeZone") == "UTC")
    assert(m("spark.ui.enabled") == "false")
    assert(m.size == 6, s"unexpected conf-key set: ${m.keys.toSeq.sorted}")
  }
}
