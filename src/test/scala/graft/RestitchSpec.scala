package graft

import graft.core.{Block, BlockGrid, BlockIndex}
import graft.stitch.Stitch

/** Incremental re-stitch: the affected neighborhood is bit-identical to
  * a full re-stitch of the modified grid, and exactly the neighborhood
  * (no more) is returned.
  */
class RestitchSpec extends SparkSpec {

  private def mkTiles(seedSalt: Int): Seq[Block] = {
    val bs = 6; val o = 2; val n = bs + 2 * o
    for {
      x <- 0 until 4; y <- 0 until 4; z <- 0 until 4
    } yield {
      val rnd = new scala.util.Random(x * 100 + y * 10 + z + seedSalt)
      Block(BlockIndex(x, y, z), n, n, n, 1,
        Array.fill(n * n * n)(rnd.nextFloat()))
    }
  }

  test("restitch of one changed interior tile is bit-identical on its neighborhood") {
    val s = spark
    val bs = Array(6, 6, 6); val o = Array(2, 2, 2); val g = Array(4, 4, 4)
    val changedIdx = BlockIndex(1, 2, 1)
    // modified grid: every tile from seed 0 except the changed one
    val tiles = mkTiles(0).map(b =>
      if (b.bi == changedIdx) b.copy(data = b.data.map(_ + 1.0f)) else b)
    val grid = BlockGrid.fromTiles(s, tiles, bs, o, g, 1)
    val full = Stitch.stitchBlocks(grid).ds.collect()
      .map(b => (b.bi.bx, b.bi.by, b.bi.bz) -> b.data).toMap
    val delta = Stitch.restitchBlocks(grid, Seq(changedIdx)).ds.collect()
      .map(b => (b.bi.bx, b.bi.by, b.bi.bz) -> b.data).toMap
    // exactly the 27-block neighborhood of an interior tile
    assert(delta.size == 27)
    assert(delta.keySet == (for {
      dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1
    } yield (1 + dx, 2 + dy, 1 + dz)).toSet)
    delta.foreach { case (k, data) =>
      assert(java.util.Arrays.equals(data, full(k)), s"block $k differs")
    }
  }

  test("corner change touches only the in-bounds 8-block neighborhood") {
    val s = spark
    val bs = Array(6, 6, 6); val o = Array(2, 2, 2); val g = Array(4, 4, 4)
    val grid = BlockGrid.fromTiles(s, mkTiles(7), bs, o, g, 1)
    val delta = Stitch.restitchBlocks(grid, Seq(BlockIndex(0, 0, 0))).ds.collect()
    assert(delta.length == 8)
    val full = Stitch.stitchBlocks(grid).ds.collect()
      .map(b => (b.bi.bx, b.bi.by, b.bi.bz) -> b.data).toMap
    delta.foreach { b =>
      assert(java.util.Arrays.equals(b.data, full((b.bi.bx, b.bi.by, b.bi.bz))))
    }
  }

  test("a changed index outside the grid fails loud, naming the index and the grid") {
    val s = spark
    val grid = BlockGrid.fromTiles(s, mkTiles(3), Array(6, 6, 6), Array(2, 2, 2),
      Array(4, 4, 4), 1)
    // (4,0,0) used to recompute its 4 in-bounds neighbors, (9,9,9) to
    // return an empty grid
    Seq(BlockIndex(4, 0, 0), BlockIndex(9, 9, 9), BlockIndex(-1, 0, 0)).foreach { bi =>
      val e = intercept[IllegalArgumentException] {
        Stitch.restitchBlocks(grid, Seq(BlockIndex(1, 1, 1), bi))
      }
      assert(e.getMessage.contains(s"(${bi.bx},${bi.by},${bi.bz})") &&
        e.getMessage.contains("4x4x4"), e.getMessage)
    }
  }
}
