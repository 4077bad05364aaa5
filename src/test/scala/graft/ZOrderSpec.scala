package graft

import org.apache.spark.sql.functions._
import graft.functions.MortonInterleave

/** Morton (Z-order) interleave: bit-exactness, codegen parity, and the
  * layout property that makes it worth having — sorting by the z-value
  * turns aligned chunks into exact squares in (x, y) space, which is
  * what keeps parquet row-group min/max tight in both dimensions.
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Inverse of MortonInterleave.spread: gather the even bits of z. */
  private def gather(z: Long): Long = {
    var x = z & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
    (x | (x >> 16)) & 0xFFFFFFFFL
  }

  test("interleave/deinterleave roundtrip over deterministic pseudo-random pairs") {
    // xorshift-ish deterministic values spanning the full 32-bit range
    var s = 0x9E3779B97F4A7C15L
    (1 to 1000).foreach { _ =>
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      val x = s & 0xFFFFFFFFL
      val y = (s >>> 32) & 0xFFFFFFFFL
      val z = MortonInterleave.interleave(x, y)
      assert(gather(z) == x, s"x roundtrip for ($x, $y)")
      assert(gather(z >>> 1) == y, s"y roundtrip for ($x, $y)")
    }
    // upper 32 input bits are ignored by construction
    assert(MortonInterleave.interleave(0x1_00000003L, 5L) ==
      MortonInterleave.interleave(3L, 5L))
  }

  test("codegen path agrees with eval, null in -> null out") {
    val rows = Seq((3L, 5L), (0L, 0L), (0xFFFFFFFFL, 0xFFFFFFFFL), (123456789L, 987654321L))
    val got = rows.toDF("x", "y").select(expr("morton(x, y)")).as[Long].collect()
    assert(got.toSeq == rows.map { case (x, y) => MortonInterleave.interleave(x, y) })
    val withNull = Seq((Some(1L), None: Option[Long])).toDF("x", "y")
      .select(expr("morton(x, y)")).collect()
    assert(withNull.head.isNullAt(0))
  }

  test("z-sorted aligned chunks of a 32x32 grid are exact 8x8 squares") {
    // the full z-curve over a 2^k x 2^k grid visits each aligned 4^j
    // block contiguously: chunks of 64 starting at 0 must be aligned
    // 8x8 squares — the row-group tightness guarantee in miniature
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val sorted = pts.sortBy { case (x, y) => MortonInterleave.interleave(x, y) }
    sorted.grouped(64).foreach { chunk =>
      val xs = chunk.map(_._1); val ys = chunk.map(_._2)
      assert(xs.max - xs.min == 7 && xs.min % 8 == 0, "x-extent is an aligned 8-span")
      assert(ys.max - ys.min == 7 && ys.min % 8 == 0, "y-extent is an aligned 8-span")
    }
  }
}
