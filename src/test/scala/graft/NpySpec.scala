package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import graft.core.{Block, BlockGrid, BlockIndex}
import graft.io.{BlockIO, Npy}
import graft.ndarray.Nd

/** npy interop: spec-exact headers, byte-level round-trip, and the
  * distributed per-block export/import path.
  */
class NpySpec extends SparkSpec {

  test("npy bytes round-trip and the header is spec-exact") {
    val data = Array.tabulate(24)(_.toFloat * 0.5f)
    val bytes = Npy.toBytes(Array(2, 3, 4), data)
    // v1.0: 10-byte preamble + header padded so the total is 64-aligned
    assert(bytes(0) == 0x93.toByte)
    assert(new String(bytes.slice(1, 6), "US-ASCII") == "NUMPY")
    assert(bytes(6) == 1 && bytes(7) == 0)
    val hlen = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
    assert((10 + hlen) % 64 == 0, s"header end not 64-aligned: ${10 + hlen}")
    val header = new String(bytes.slice(10, 10 + hlen), "US-ASCII")
    assert(header.startsWith("{'descr': '<f4', 'fortran_order': False, 'shape': (2, 3, 4), }"))
    assert(header.endsWith("\n"))
    val (shape, back) = Npy.fromBytes(bytes)
    assert(shape.toSeq == Seq(2, 3, 4))
    assert(back.toSeq == data.toSeq)
  }

  test("npy payload bytes equal a per-element putFloat encoding, raw bits kept") {
    val bits = Seq(
      0x7fc00000, 0x7fc00001, 0x7f800001, 0xffc12345, 0xff800123, // NaN payloads, both signs
      0x80000000, 0x00000000, // -0.0, +0.0
      0x00000001, 0x007fffff, 0x80000001, 0x807fffff, // subnormals
      0x7f800000, 0xff800000, // ±Inf
      0x3f800000, 0xc0490fdb) // ordinary values
    val rnd = new scala.util.Random(5)
    val data = (bits ++ Seq.fill(4096 - bits.size)(rnd.nextInt()))
      .map(java.lang.Float.intBitsToFloat).toArray
    val bytes = Npy.toBytes(Array(16, 256), data)
    val want = ByteBuffer.allocate(data.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    data.foreach(want.putFloat)
    val header = bytes.length - data.length * 4
    assert(header % 64 == 0)
    assert(java.util.Arrays.equals(bytes.drop(header), want.array()))
    val (_, back) = Npy.fromBytes(bytes)
    assert(back.map(java.lang.Float.floatToRawIntBits).toSeq ==
      data.map(java.lang.Float.floatToRawIntBits).toSeq)
  }

  test("block grid round-trips through per-block npy export/import") {
    val dir = Files.createTempDirectory("npyio").toString
    val bs = Array(5, 4, 3); val g = Array(2, 2, 2)
    val rnd = new scala.util.Random(73)
    val tiles = for {
      x <- 0 until 2; y <- 0 until 2; z <- 0 until 2
    } yield Block(BlockIndex(x, y, z), 5, 4, 3, 3,
      Array.fill(5 * 4 * 3 * 3)(rnd.nextFloat()))
    val grid = BlockGrid.fromTiles(spark, tiles, bs, Array(0, 0, 0), g, 3)
    BlockIO.exportNpy(grid, s"$dir/npy")
    val back = BlockIO.importNpyViaSource(spark, s"$dir/npy")
    assert(back.meta.components == 3)
    assert(back.ds.count() == 8)
    assert(Nd.maxAbsDiff(back.collectDense(), grid.collectDense()) == 0.0f)
  }
}
