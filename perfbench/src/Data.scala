package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder, Encoders, Row, SparkSession}

import graft.affine.{AffineGrid, LocalAffine}
import graft.core.BlockIndex

/** Seeded voxel source. Every voxel is a hash of the seed and its GLOBAL
  * coordinate, holding 16 bits like uint16 camera data, so overlapping
  * tiles agree and a correct stitch reproduces the hash exactly (the ramp
  * weights are a partition of unity).
  */
object Vox {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def value(seed: Long, x: Long, y: Long, z: Long): Float = {
    val key = ((x & 0x1fffffL) << 42) | ((y & 0x1fffffL) << 21) | (z & 0x1fffffL)
    (mix(mix(seed * 0x9e3779b97f4a7c15L) ^ key) >>> 48).toFloat
  }

  /** The stitch input tile of block `bi`: extent bs + 2o per axis, placed at
    * global offset bi * bs - o.
    */
  def tile(seed: Long, g: Geometry, bi: BlockIndex): Array[Float] = {
    val cs = g.bs + 2 * g.o
    val out = new Array[Float](cs * cs * cs)
    val x0 = bi.bx.toLong * g.bs - g.o; val y0 = bi.by.toLong * g.bs - g.o
    val z0 = bi.bz.toLong * g.bs - g.o
    var i = 0
    var x = 0
    while (x < cs) {
      var y = 0
      while (y < cs) {
        var z = 0
        while (z < cs) { out(i) = value(seed, x0 + x, y0 + y, z0 + z); i += 1; z += 1 }
        y += 1
      }
      x += 1
    }
    out
  }

  /** Seeded local affines: a small rotation about each axis plus a
    * translation per block, so the blended field is not constant.
    */
  def affines(seed: Long, g: Geometry): AffineGrid = {
    val n = g.grid
    val m = new Array[Double](n * n * n * 16)
    var b = 0
    while (b < n * n * n) {
      def u(k: Int): Double = (mix(mix(seed + 7919L * b) + k) >>> 11) / (1L << 53).toDouble * 2 - 1
      val (a, bb, c) = (0.02 * u(0), 0.02 * u(1), 0.02 * u(2))
      val (ca, sa, cb, sb, cc, sc) =
        (math.cos(a), math.sin(a), math.cos(bb), math.sin(bb), math.cos(c), math.sin(c))
      // R = Rz(c) * Ry(bb) * Rx(a)
      val r = Array(
        cc * cb, cc * sb * sa - sc * ca, cc * sb * ca + sc * sa,
        sc * cb, sc * sb * sa + cc * ca, sc * sb * ca - cc * sa,
        -sb, cb * sa, cb * ca)
      val off = b * 16
      var row = 0
      while (row < 3) {
        m(off + row * 4) = r(row * 3); m(off + row * 4 + 1) = r(row * 3 + 1)
        m(off + row * 4 + 2) = r(row * 3 + 2); m(off + row * 4 + 3) = 2.0 * u(3 + row)
        row += 1
      }
      m(off + 15) = 1.0
      b += 1
    }
    AffineGrid(n, n, n, 4, 4, m)
  }
}

/** A cubic block grid: `grid`^3 blocks of `bs`^3 voxels, stitch overlap `o`. */
final case class Geometry(grid: Int, bs: Int, o: Int) {
  def numBlocks: Int = grid * grid * grid
  def blocks: Seq[BlockIndex] =
    for (x <- 0 until grid; y <- 0 until grid; z <- 0 until grid) yield BlockIndex(x, y, z)
  def outVoxels: Long = numBlocks.toLong * bs * bs * bs
  def dims: Array[Int] = Array(grid, grid, grid)
  def bsArr: Array[Int] = Array(bs, bs, bs)
  def oArr: Array[Int] = Array(o, o, o)
  def shape: Array[Long] = Array.fill(3)(grid.toLong * bs)
  /** The `_grid_meta.json` sidecar the program's block readers expect. */
  def metaJson(overlap: Int, components: Int): String = {
    val n = grid.toLong * bs
    s"""{"shape":[$n,$n,$n],"blocksize":[$bs,$bs,$bs],"overlap":[$overlap,$overlap,$overlap],""" +
      s""""blockGrid":[$grid,$grid,$grid],"components":$components}"""
  }
}

/** The parquet block row layout (one row per block). */
final case class BlockRow(bx: Int, by: Int, bz: Int, nx: Int, ny: Int, nz: Int, c: Int,
    data: Array[Float])

/** The benchmark's own `.npy` codec (format 1.0, little-endian float32),
  * independent of the program's, so output checks do not trust the code
  * they check.
  */
object NpyFile {
  def write(path: Path, shape: Seq[Int], data: Array[Float]): Unit = {
    val shapeStr = if (shape.length == 1) s"(${shape.head},)" else shape.mkString("(", ", ", ")")
    val dict = s"{'descr': '<f4', 'fortran_order': False, 'shape': $shapeStr, }"
    val total = ((10 + dict.length + 1 + 63) / 64) * 64
    val header = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    header.put(0x93.toByte).put("NUMPY".getBytes(StandardCharsets.US_ASCII))
    header.put(1.toByte).put(0.toByte).putShort((total - 10).toShort)
    header.put(dict.getBytes(StandardCharsets.US_ASCII))
    while (header.position() < total - 1) header.put(' '.toByte)
    header.put('\n'.toByte).flip()
    val body = ByteBuffer.allocate(data.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    body.asFloatBuffer().put(data)
    val ch = FileChannel.open(path, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try { while (header.hasRemaining) ch.write(header); while (body.hasRemaining) ch.write(body) }
    finally ch.close()
  }

  /** (shape, header length) without reading the payload. */
  def header(path: Path): (Seq[Int], Int) = {
    val ch = FileChannel.open(path, StandardOpenOption.READ)
    try {
      val bb = ByteBuffer.allocate(4096).order(ByteOrder.LITTLE_ENDIAN)
      ch.read(bb); bb.flip()
      require(bb.get(0) == 0x93.toByte && bb.get(6) == 1, s"$path: not an npy 1.0 file")
      val hlen = bb.getShort(8) & 0xffff
      val h = new String(bb.array(), 10, hlen, StandardCharsets.US_ASCII)
      require(h.contains("'descr': '<f4'") && h.contains("'fortran_order': False"),
        s"$path: unexpected npy header $h")
      val shape = "'shape':\\s*\\(([^)]*)\\)".r.findFirstMatchIn(h).get.group(1)
        .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
      (shape, 10 + hlen)
    } finally ch.close()
  }

  def read(path: Path): (Seq[Int], Array[Float]) = {
    val (shape, off) = header(path)
    val bytes = Files.readAllBytes(path)
    val n = shape.product
    require(bytes.length == off + 4L * n, s"$path: ${bytes.length} bytes, want ${off + 4L * n}")
    val data = new Array[Float](n)
    ByteBuffer.wrap(bytes, off, 4 * n).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(data)
    (shape, data)
  }

  def blockName(bi: BlockIndex): String = s"block_${bi.bx}_${bi.by}_${bi.bz}.npy"
}

/** Directory helpers (inputs and outputs live under the run's work dir). */
object Dirs {
  def reset(p: Path): Path = { delete(p); Files.createDirectories(p) }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }

  /** Regular data files under `p`: Hadoop checksums and markers excluded. */
  def dataFiles(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
      val n = f.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }.toList finally s.close()
  }

  def bytes(p: Path): Long = dataFiles(p).map(Files.size).sum

  /** Forces the files under `p` to disk, so their write-back does not land
    * in a later timed pass.
    */
  def sync(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val ch = FileChannel.open(f, StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    } finally s.close()
  }

  def writeString(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}

/** Input generation for the array workloads. */
object Gen {
  implicit val rowEnc: Encoder[BlockRow] = Encoders.product[BlockRow]

  /** One `.npy` per stitch tile plus the sidecar, written on the executors. */
  def tilesNpy(spark: SparkSession, seed: Long, g: Geometry, dir: Path): Unit = {
    Dirs.reset(dir)
    val d = dir.toString
    val blocks = g.blocks
    spark.sparkContext.parallelize(blocks, blocks.length).foreach { bi =>
      val cs = g.bs + 2 * g.o
      NpyFile.write(Paths.get(d, NpyFile.blockName(bi)), Seq(cs, cs, cs), Vox.tile(seed, g, bi))
    }
    Dirs.writeString(dir.resolve("_grid_meta.json"), g.metaJson(g.o, 1))
  }

  /** One parquet row per stitch tile plus the sidecar, through Spark's own
    * parquet writer.
    */
  def tilesParquet(spark: SparkSession, seed: Long, g: Geometry, dir: Path): Unit = {
    Dirs.delete(dir)
    val n = g.numBlocks
    val dims = g.dims
    spark.range(0, n, 1, 8).map { i =>
      val bi = BlockIndex.fromLinear(i, dims)
      val cs = g.bs + 2 * g.o
      BlockRow(bi.bx, bi.by, bi.bz, cs, cs, cs, 1, Vox.tile(seed, g, bi))
    }.write.parquet(dir.toString)
    Dirs.writeString(dir.resolve("_grid_meta.json"), g.metaJson(g.o, 1))
  }
}

/** Output checks. Each returns failure messages; empty means correct.
  * They run outside the timed region.
  */
object Checks {
  import Gen.rowEnc

  /** Stitched voxels must equal the generating hash within 16 ulp (up to
    * eight weighted contributions, each rounded, sum to the value).
    */
  private def voxelFailures(seed: Long, g: Geometry, bi: BlockIndex, shape: Seq[Int],
      data: Array[Float]): Seq[String] = {
    if (shape != Seq(g.bs, g.bs, g.bs))
      return Seq(s"block $bi: extent ${shape.mkString("x")}, want ${g.bs}^3")
    val bs = g.bs
    var bad = 0; var first = ""
    var i = 0
    var x = 0
    while (x < bs) {
      var y = 0
      while (y < bs) {
        var z = 0
        while (z < bs) {
          val want = Vox.value(seed, bi.bx.toLong * bs + x, bi.by.toLong * bs + y,
            bi.bz.toLong * bs + z)
          if (!(math.abs(data(i) - want) <= 16 * math.ulp(math.max(want, 1f)))) {
            if (bad == 0) first = s"block $bi voxel ($x,$y,$z): ${data(i)} != $want"
            bad += 1
          }
          i += 1; z += 1
        }
        y += 1
      }
      x += 1
    }
    if (bad == 0) Nil else Seq(s"$first ($bad voxels off)")
  }

  private def coverage(g: Geometry, got: Seq[BlockIndex]): Seq[String] = {
    val want = g.blocks.toSet
    val dup = got.diff(got.distinct)
    (if (got.length != g.numBlocks) Seq(s"${got.length} blocks, want ${g.numBlocks}") else Nil) ++
      (want -- got).toSeq.take(3).map(b => s"block $b missing") ++
      (got.toSet -- want).toSeq.take(3).map(b => s"block $b outside the grid") ++
      dup.take(3).map(b => s"block $b duplicated")
  }

  private def npyBlocks(dir: Path): Seq[(BlockIndex, Path)] = {
    val re = "block_(\\d+)_(\\d+)_(\\d+)\\.npy".r
    Dirs.dataFiles(dir).flatMap { p =>
      p.getFileName.toString match {
        case re(x, y, z) => Some(BlockIndex(x.toInt, y.toInt, z.toInt) -> p)
        case _ => None
      }
    }
  }

  def stitchNpy(spark: SparkSession, seed: Long, g: Geometry, dir: Path): Seq[String] = {
    val files = npyBlocks(dir)
    val work = files.map { case (bi, p) => (bi, p.toString) }
    coverage(g, files.map(_._1)) ++ spark.sparkContext
      .parallelize(work, math.max(1, math.min(work.length, 16)))
      .flatMap { case (bi, p) =>
        try {
          val (shape, data) = NpyFile.read(Paths.get(p))
          voxelFailures(seed, g, bi, shape, data)
        } catch { case e: Exception => Seq(s"block $bi: $e") }
      }.collect().toSeq
  }

  /** One pass over the stitched rows: coverage of the grid plus every voxel. */
  def stitchRows(seed: Long, g: Geometry, rows: Dataset[BlockRow]): Seq[String] = {
    val per = rows.map { r =>
      val bi = BlockIndex(r.bx, r.by, r.bz)
      (r.bx, r.by, r.bz, voxelFailures(seed, g, bi, Seq(r.nx, r.ny, r.nz) ++
        (if (r.c == 1) Nil else Seq(r.c)), r.data).mkString("\n"))
    }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaInt,
      Encoders.STRING)).collect().toSeq
    coverage(g, per.map { case (x, y, z, _) => BlockIndex(x, y, z) }) ++
      per.map(_._4).filter(_.nonEmpty)
  }

  def stitchParquet(spark: SparkSession, seed: Long, g: Geometry, dir: Path): Seq[String] =
    stitchRows(seed, g, spark.read.parquet(dir.toString).as[BlockRow])

  /** Every field block has extent bs^3 x 3; the sampled blocks, read back
    * from disk, equal `LocalAffine.mergeNeighbors` computed directly.
    */
  def affineNpy(seed: Long, g: Geometry, dir: Path, sample: Seq[BlockIndex]): Seq[String] = {
    val files = npyBlocks(dir)
    val aff = Vox.affines(seed, g)
    val extents = files.flatMap { case (bi, p) =>
      val (shape, _) = NpyFile.header(p)
      if (shape == Seq(g.bs, g.bs, g.bs, 3)) None
      else Some(s"field block $bi: extent ${shape.mkString("x")}, want ${g.bs}^3x3")
    }
    val byIdx = files.toMap
    val values = sample.flatMap { bi =>
      byIdx.get(bi).toSeq.flatMap { p =>
        val (_, got) = NpyFile.read(p)
        val want = LocalAffine.mergeNeighbors(bi, g.bsArr, g.dims, Array(1f, 1f, 1f), aff,
          g.oArr, displacement = true)
        val bad = if (got.length != want.length) got.length
          else got.indices.count(i => java.lang.Float.compare(got(i), want(i)) != 0)
        if (bad == 0) Nil else Seq(s"field block $bi: $bad values differ from mergeNeighbors")
      }
    }
    coverage(g, files.map(_._1)) ++ extents ++ values
  }

  /** Order-insensitive digest of a query result: (rows, sum of row hashes).
    * Doubles are rounded to 12 significant digits first.
    */
  def digest(rows: Seq[Row]): (Long, Long) = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).toString
      case f: Float => canon(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case a: Array[_] => a.map(canon).mkString("[", ",", "]")
      case o => o.toString
    }
    (rows.length.toLong, rows.map(r => Vox.mix(canon(r).hashCode.toLong)).sum)
  }
}
