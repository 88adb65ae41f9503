package graft

import graft.affine.{AffineGrid, LocalAffine}
import graft.ndarray.Nd

/** Pins the broadcast→join switchover of localAffinesToField: past
  * `BroadcastMaxBlocks` the affines ship as a Dataset through a
  * one-shuffle neighbor join instead of a broadcast, and the output must
  * be BIT-identical (same kernel, same neighbor iteration order, so the
  * float32 accumulation cannot differ).
  */
class AffineJoinPathSpec extends SparkSpec {

  test("join path output is bit-identical to broadcast path (random geometries)") {
    val r = new scala.util.Random(61)
    (1 to 5).foreach { _ =>
      val g = Array(1 + r.nextInt(3), 1 + r.nextInt(3), 1 + r.nextInt(3))
      val bs = Array(4 + r.nextInt(5), 4 + r.nextInt(5), 4 + r.nextInt(5))
      val o = bs.map(b => 1 + r.nextInt(math.max(1, b / 2 - 1)))
      val m = Array.fill(g(0) * g(1) * g(2) * 16)(r.nextDouble() * 2 - 1)
      val aff = AffineGrid(g(0), g(1), g(2), 4, 4, m)
      // sometimes crop the trailing edge so partial blocks are exercised
      val shape = Array.tabulate(3)(ax => bs(ax).toLong * g(ax) - r.nextInt(2))
      val sp = Array.fill(3)(0.5f + r.nextFloat())
      val disp = r.nextBoolean()
      val viaBroadcast = LocalAffine.localAffinesToField(
        spark, shape, sp, aff, bs, o, disp).collectDense()
      val viaJoin = LocalAffine.localAffinesToFieldJoin(
        spark, shape, sp, LocalAffine.affineRows(spark, aff), g, bs, o, disp).collectDense()
      assert(viaBroadcast.length == viaJoin.length,
        s"g=${g.toSeq} bs=${bs.toSeq} o=${o.toSeq}: size mismatch")
      assert(Nd.maxAbsDiff(viaBroadcast, viaJoin) == 0.0f,
        s"g=${g.toSeq} bs=${bs.toSeq} o=${o.toSeq} shape=${shape.toSeq}: paths differ")
    }
  }

  test("positionGrid emits global voxel indices with cropped edge blocks") {
    val out = LocalAffine.positionGrid(spark, Array(7L, 9L, 5L), Array(4, 4, 4))
    assert(out.ds.count() == 2L * 3 * 2)
    val dense = out.collectDense()
    assert(dense.length == 7 * 9 * 5 * 3)
    var ok = true
    for (x <- 0 until 7; y <- 0 until 9; z <- 0 until 5) {
      val i = ((x * 9 + y) * 5 + z) * 3
      if (dense(i) != x.toFloat || dense(i + 1) != y.toFloat || dense(i + 2) != z.toFloat)
        ok = false
    }
    assert(ok, "coordinate mismatch")
  }
}
