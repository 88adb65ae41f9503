package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal NumPy `.npy` (format version 1.0) codec for float32 C-order
  * arrays — the interop edge with the reference's ecosystem, whose
  * consumers read and write numpy. Little-endian `<f4`, header padded to
  * a 64-byte boundary per the spec.
  */
object Npy {

  def toBytes(shape: Array[Int], data: Array[Float]): Array[Byte] = {
    require(shape.map(_.toLong).product == data.length,
      s"shape ${shape.mkString("x")} != ${data.length} elements")
    val shapeStr =
      if (shape.length == 1) s"(${shape(0)},)"
      else shape.mkString("(", ", ", ")")
    val dict = s"{'descr': '<f4', 'fortran_order': False, 'shape': $shapeStr, }"
    val unpadded = 10 + dict.length + 1 // magic(6)+ver(2)+len(2) + dict + \n
    val total = ((unpadded + 63) / 64) * 64
    val headerLen = total - 10
    val bb = ByteBuffer.allocate(total + data.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(0x93.toByte).put("NUMPY".getBytes(StandardCharsets.US_ASCII))
    bb.put(1.toByte).put(0.toByte)
    bb.putShort(headerLen.toShort)
    bb.put(dict.getBytes(StandardCharsets.US_ASCII))
    var i = unpadded
    while (i < total) { bb.put(' '.toByte); i += 1 }
    bb.position(total - 1)
    bb.put('\n'.toByte)
    bb.asFloatBuffer().put(data)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): (Array[Int], Array[Float]) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](6)
    bb.get(magic)
    require(magic(0) == 0x93.toByte &&
      new String(magic, 1, 5, StandardCharsets.US_ASCII) == "NUMPY", "not an npy file")
    val major = bb.get(); bb.get()
    require(major == 1, s"unsupported npy version $major")
    val headerLen = bb.getShort() & 0xffff
    val header = new Array[Byte](headerLen)
    bb.get(header)
    val h = new String(header, StandardCharsets.US_ASCII)
    require(h.contains("'descr': '<f4'"), s"only <f4 supported, header: $h")
    require(h.contains("'fortran_order': False"), "fortran order unsupported")
    val shape = "'shape':\\s*\\(([^)]*)\\)".r.findFirstMatchIn(h)
      .getOrElse(sys.error(s"no shape in npy header: $h"))
      .group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)
    val n = shape.map(_.toLong).product.toInt
    val data = new Array[Float](n)
    bb.asFloatBuffer().get(data)
    (shape, data)
  }
}
