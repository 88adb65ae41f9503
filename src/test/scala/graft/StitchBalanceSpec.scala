package graft

import graft.affine.{AffineGrid, LocalAffine}
import graft.core.{Block, BlockGrid, BlockIndex, Boundary}
import graft.stitch.Stitch

/** Balance of the one stitch exchange: output blocks land on the shuffle
  * partitions as contiguous, equal-sized runs of the row-major block order
  * (a 3³ grid on 4 partitions: blocks 0-6, 7-13, 14-20, 21-26), not as
  * their key hashes happen to fall (which put 5/12/2/8 blocks on the 4
  * partitions). The plan still has exactly one Exchange.
  */
class StitchBalanceSpec extends SparkSpec {

  private val g = Array(3, 3, 3)

  private def tiles(ext: Int, n: Int = 3): Seq[Block] = for {
    x <- 0 until n; y <- 0 until n; z <- 0 until n
  } yield Block(BlockIndex(x, y, z), ext, ext, ext, 1,
    Array.tabulate(ext * ext * ext)(i => (x * 9 + y * 3 + z + i % 7).toFloat))

  /** the linear block indices held by each output partition, in partition order */
  private def partitionRuns(out: BlockGrid, grid: Array[Int] = g): Seq[Seq[Long]] = {
    val s = spark
    import s.implicits._
    out.ds.mapPartitions(it => Iterator(it.map(_.bi.linear(grid)).toSeq.sorted)).collect().toSeq
  }

  private def exchanges(out: BlockGrid): Int =
    "(?m)^\\s*\\+?-? ?Exchange ".r.findAllIn(out.ds.queryExecution.executedPlan.toString).length

  private val balanced = Seq(0L to 6L, 7L to 13L, 14L to 20L, 21L to 26L)

  test("stitchBlocks on a 3³ grid at 4 shuffle partitions puts 7/7/7/6 contiguous blocks per partition") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val out = Stitch.stitchBlocks(BlockGrid.fromTiles(spark, tiles(6), Array(4, 4, 4),
      Array(1, 1, 1), g, 1))
    assert(partitionRuns(out) == balanced)
    assert(exchanges(out) == 1)
  }

  test("mapOverlap and rechunk route their one exchange the same way") {
    val exact = BlockGrid.fromTiles(spark, tiles(4), Array(4, 4, 4), Array(0, 0, 0), g, 1)
    val overlapped = exact.mapOverlap(Array(1, 1, 1), exact.meta, Boundary.Reflect) { b =>
      Block(b.bi, 4, 4, 4, 1, new Array[Float](64))
    }
    assert(partitionRuns(overlapped) == balanced)
    assert(exchanges(overlapped) == 1)
    // 12³ voxels rechunked 4 -> 4 keeps the 3³ block grid
    val rechunked = exact.rechunk(Array(4, 4, 4))
    assert(partitionRuns(rechunked) == balanced)
    assert(exchanges(rechunked) == 1)
  }

  test("localAffinesToFieldJoin routes its one exchange the same way") {
    val aff = AffineGrid(3, 3, 3, 3, 4, Array.tabulate(27 * 12)(i => (i % 5) * 0.25))
    val out = LocalAffine.localAffinesToFieldJoin(spark, Array(12L, 12L, 12L),
      Array(1f, 1f, 1f), LocalAffine.affineRows(spark, aff), g, Array(4, 4, 4), Array(1, 1, 1))
    assert(partitionRuns(out) == balanced)
    assert(exchanges(out) == 1)
  }

  test("restitchBlocks routes by rank in the affected set, not by grid position") {
    val g4 = Array(4, 4, 4)
    val grid = BlockGrid.fromTiles(spark, tiles(6, 4), Array(4, 4, 4), Array(1, 1, 1), g4, 1)
    val out = Stitch.restitchBlocks(grid, Seq(BlockIndex(1, 2, 1)))
    // the 27 affected blocks, in block order, split 7/7/7/6
    val affected = (for { x <- 0 to 2; y <- 1 to 3; z <- 0 to 2 } yield BlockIndex(x, y, z).linear(g4))
    assert(partitionRuns(out, g4) == affected.grouped(7).toSeq)
    assert(exchanges(out) == 1)
  }
}
