package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.{ByteBuffer, ByteOrder}
import graft.io.Wav

/** The pure-JVM RIFF/WAVE codec behind the q40 multimodal decode path:
  * build/parse round-trip, spec-mandated chunk-walk behaviors (unknown
  * chunks skipped by size, word alignment), 16-bit samples, and strict
  * failures on malformed blobs.
  */
class WavSpec extends AnyFunSuite {

  test("build8/parse round-trip preserves rate, format, and samples") {
    val data = Array.tabulate(301)(i => ((i * 7) % 256).toByte)
    val p = Wav.parse(Wav.build8(16000, data))
    assert(p.sampleRate == 16000)
    assert(p.channels == 1)
    assert(p.bitsPerSample == 8)
    assert(p.samples.toSeq == data.map(_ & 0xff).toSeq)
  }

  test("unknown chunks are skipped by declared size, with word alignment") {
    val data = Array[Byte](1, 2, 3)
    val base = Wav.build8(8000, data)
    // splice a LIST chunk with an ODD payload length between fmt and data
    val head = base.take(36) // RIFF..fmt chunk end
    val tail = base.drop(36) // data chunk
    val junk = ByteBuffer.allocate(8 + 6).order(ByteOrder.LITTLE_ENDIAN)
      .put("LIST".getBytes("US-ASCII")).putInt(5)
      .put(Array[Byte](9, 9, 9, 9, 9, 0)).array()
    val spliced = head ++ junk ++ tail
    // fix the RIFF size field
    val bb = ByteBuffer.wrap(spliced).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8)
    val p = Wav.parse(spliced)
    assert(p.samples.toSeq == Seq(1, 2, 3))
  }

  test("16-bit PCM samples decode signed little-endian") {
    val bb = ByteBuffer.allocate(44 + 6).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + 6).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(44100).putInt(88200).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(6)
      .putShort(1000).putShort(-2).putShort(Short.MinValue)
    val p = Wav.parse(bb.array())
    assert(p.bitsPerSample == 16)
    assert(p.samples.toSeq == Seq(1000, -2, Short.MinValue.toInt))
  }

  test("build16/parse round-trip preserves signed samples") {
    val data = Array[Short](0, 1, -1, 1000, -2, Short.MaxValue, Short.MinValue)
    val p = Wav.parse(Wav.build16(22050, data))
    assert(p.sampleRate == 22050)
    assert(p.channels == 1)
    assert(p.bitsPerSample == 16)
    assert(p.samples.toSeq == data.map(_.toInt).toSeq)
  }

  test("stereo build16/parse round-trip de-interleaves per channel") {
    val l = Array[Short](10, -20, 30, -40)
    val r = Array[Short](1, 2, -3, Short.MinValue)
    val inter = Array.tabulate(8)(i => if (i % 2 == 0) l(i / 2) else r(i / 2))
    val p = Wav.parse(Wav.build16(48000, 2, inter))
    assert(p.channels == 2)
    assert(p.samples.length == 8) // interleaved payload intact
    assert(Wav.channel(p, 0).toSeq == l.map(_.toInt).toSeq)
    assert(Wav.channel(p, 1).toSeq == r.map(_.toInt).toSeq)
    intercept[IllegalArgumentException](Wav.channel(p, 2))
    // samples not divisible into channels must fail, not truncate
    intercept[IllegalArgumentException](Wav.build16(48000, 2, Array[Short](1, 2, 3)))
  }

  test("malformed blobs fail loudly, not with garbage features") {
    val ok = Wav.build8(16000, Array[Byte](1, 2, 3))
    intercept[IllegalArgumentException](Wav.parse(ok.take(20))) // truncated
    val notRiff = ok.clone(); notRiff(0) = 'X'
    intercept[IllegalArgumentException](Wav.parse(notRiff))
    val badFmt = ok.clone(); badFmt(20) = 3 // non-PCM format code
    intercept[IllegalArgumentException](Wav.parse(badFmt))
    // data chunk length overrunning the buffer
    val overrun = ok.clone()
    ByteBuffer.wrap(overrun).order(ByteOrder.LITTLE_ENDIAN).putInt(40, 9999)
    intercept[IllegalArgumentException](Wav.parse(overrun))
  }

  test("build16 payload bytes equal a per-sample putShort encoding") {
    val rnd = new scala.util.Random(7)
    val data = Array[Short](Short.MinValue, Short.MaxValue, -1, 0, 1, 0x1234, -0x1234) ++
      Array.fill(4093)(rnd.nextInt().toShort)
    val bytes = Wav.build16(44100, 1, data)
    val want = ByteBuffer.allocate(data.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    data.foreach(want.putShort)
    assert(bytes.length == 44 + data.length * 2)
    assert(java.util.Arrays.equals(bytes.drop(44), want.array()))
  }
}
