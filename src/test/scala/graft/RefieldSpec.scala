package graft

import graft.affine.{AffineGrid, LocalAffine}
import graft.core.BlockIndex

/** Incremental affine-field recompute: the changed affine's
  * neighborhood is bit-identical to the full field, and exactly the
  * in-bounds neighborhood is returned.
  */
class RefieldSpec extends SparkSpec {

  private val grid = Array(3, 3, 3)
  private val bs = Array(6, 6, 6)
  private val o = Array(2, 2, 2)
  private val spacing = Array(1.0f, 1.0f, 1.0f)
  private val shape = Array(18L, 18L, 18L)

  private def mkAffines(perturb: Option[(Int, Int, Int)]): AffineGrid = {
    val n = grid(0) * grid(1) * grid(2)
    val m = new Array[Double](n * 16)
    for (i <- 0 until n) {
      // identity 4x4 per cell
      m(i * 16) = 1; m(i * 16 + 5) = 1; m(i * 16 + 10) = 1; m(i * 16 + 15) = 1
    }
    val ag = AffineGrid(grid(0), grid(1), grid(2), 4, 4, m)
    perturb.foreach { case (x, y, z) =>
      val off = ag.matOffset(x, y, z)
      m(off + 3) = 1.5 // translate x by 1.5 in the changed cell
    }
    ag
  }

  test("one changed affine: neighborhood blocks bit-identical to the full field") {
    val s = spark
    val changed = BlockIndex(1, 1, 1)
    val aff = mkAffines(Some((1, 1, 1)))
    val full = LocalAffine.localAffinesToField(
        s, shape, spacing, aff, bs, o, displacement = true)
      .ds.collect().map(b => (b.bi.bx, b.bi.by, b.bi.bz) -> b.data).toMap
    val delta = LocalAffine.refieldBlocks(
        s, shape, spacing, aff, bs, o, Seq(changed), displacement = true)
      .ds.collect().map(b => (b.bi.bx, b.bi.by, b.bi.bz) -> b.data).toMap
    assert(delta.size == 27) // interior cell on a 3x3x3 grid: whole grid
    delta.foreach { case (k, data) =>
      assert(java.util.Arrays.equals(data, full(k)), s"block $k differs")
    }
    // the changed cell genuinely differs from the unperturbed field
    val base = LocalAffine.localAffinesToField(
        s, shape, spacing, mkAffines(None), bs, o, displacement = true)
      .ds.collect().map(b => (b.bi.bx, b.bi.by, b.bi.bz) -> b.data).toMap
    assert(!java.util.Arrays.equals(delta((1, 1, 1)), base((1, 1, 1))))
  }

  test("corner change returns only the in-bounds 8-block neighborhood") {
    val s = spark
    val aff = mkAffines(Some((0, 0, 0)))
    val delta = LocalAffine.refieldBlocks(
      s, shape, spacing, aff, bs, o, Seq(BlockIndex(0, 0, 0)),
      displacement = true)
    assert(delta.ds.collect().length == 8)
  }

  test("a changed index outside the affine grid fails loud, naming the index and the grid") {
    val s = spark
    val aff = mkAffines(None)
    // (3,0,0) used to recompute its 4 in-bounds neighbors, (9,9,9) to
    // return an empty grid
    Seq(BlockIndex(3, 0, 0), BlockIndex(9, 9, 9), BlockIndex(0, -1, 0)).foreach { bi =>
      val e = intercept[IllegalArgumentException] {
        LocalAffine.refieldBlocks(s, shape, spacing, aff, bs, o,
          Seq(BlockIndex(1, 1, 1), bi), displacement = true)
      }
      assert(e.getMessage.contains(s"(${bi.bx},${bi.by},${bi.bz})") &&
        e.getMessage.contains("3x3x3"), e.getMessage)
    }
  }
}
