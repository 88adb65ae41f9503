package graft.io

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal RIFF/WAVE codec — pure JVM, no external codecs, so the
  * multimodal decode path (q40) can run a REAL parser in this container
  * instead of a stub. Supports the canonical PCM layout: RIFF header,
  * `fmt ` chunk (PCM, 8- or 16-bit), arbitrary interleaved unknown
  * chunks (skipped by size, as the spec requires), one `data` chunk.
  *
  * The parse side is deliberately strict — magic numbers, chunk bounds,
  * and format fields are validated with informative failures — because
  * the decode boundary of a 100 TB multimodal pipeline meets malformed
  * blobs, and silent garbage features are worse than a counted error.
  */
object Wav {

  final case class Pcm(sampleRate: Int, channels: Int, bitsPerSample: Int,
      samples: Array[Int])

  /** wrap unsigned 8-bit PCM samples (one byte each) as a WAV blob */
  def build8(sampleRate: Int, data: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(44 + data.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate) // byte rate = rate × block align (1)
      .putShort(1) // block align
      .putShort(8) // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    bb.array()
  }

  /** wrap signed 16-bit PCM samples (little-endian shorts) as a mono WAV blob */
  def build16(sampleRate: Int, data: Array[Short]): Array[Byte] =
    build16(sampleRate, 1, data)

  /** wrap channel-INTERLEAVED signed 16-bit PCM frames as a WAV blob
    * (`data` holds frame 0's samples for channels 0..c-1, then frame 1's,
    * … — the canonical WAV interleaving)
    */
  def build16(sampleRate: Int, channels: Int, data: Array[Short]): Array[Byte] = {
    require(channels >= 1, s"channels must be >= 1, got $channels")
    require(data.length % channels == 0,
      s"${data.length} samples do not divide into $channels channels")
    val n = data.length * 2
    val align = channels * 2
    val bb = ByteBuffer.allocate(44 + n).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * align) // byte rate = rate × block align
      .putShort(align.toShort) // block align
      .putShort(16) // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(n)
    bb.asShortBuffer().put(data)
    bb.array()
  }

  /** channel `c` of an interleaved PCM payload (strided view copy) */
  def channel(p: Pcm, c: Int): Array[Int] = {
    require(c >= 0 && c < p.channels, s"channel $c of ${p.channels}")
    require(p.samples.length % p.channels == 0,
      s"${p.samples.length} samples do not divide into ${p.channels} channels")
    val frames = p.samples.length / p.channels
    Array.tabulate(frames)(f => p.samples(f * p.channels + c))
  }

  private def fourcc(bb: ByteBuffer): String = {
    val b = new Array[Byte](4)
    bb.get(b)
    new String(b, "US-ASCII")
  }

  /** chunk-walking parser: validates RIFF/WAVE magic, reads `fmt `,
    * skips unknown chunks (word-aligned, as RIFF requires), extracts the
    * `data` payload as unsigned (8-bit) or signed (16-bit) samples
    */
  def parse(bytes: Array[Byte]): Pcm = {
    require(bytes.length >= 44, s"WAV too short: ${bytes.length} bytes")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(fourcc(bb) == "RIFF", "not a RIFF container")
    val riffLen = bb.getInt
    require(riffLen + 8 <= bytes.length, s"RIFF length $riffLen overruns buffer")
    require(fourcc(bb) == "WAVE", "RIFF form is not WAVE")
    var rate = -1; var channels = -1; var bits = -1
    var samples: Array[Int] = null
    while (bb.remaining() >= 8 && (samples == null || rate < 0)) {
      val id = fourcc(bb)
      val len = bb.getInt
      require(len >= 0 && len <= bb.remaining(), s"chunk $id length $len overruns buffer")
      val next = bb.position() + len + (len & 1) // RIFF chunks are word-aligned
      id match {
        case "fmt " =>
          require(len >= 16, s"fmt chunk too short: $len")
          val fmt = bb.getShort()
          require(fmt == 1, s"only PCM supported, got format $fmt")
          channels = bb.getShort()
          require(channels >= 1, s"channel count must be >= 1, got $channels")
          rate = bb.getInt
          bb.getInt // byte rate (derived; ignored)
          bb.getShort // block align (derived; ignored)
          bits = bb.getShort()
          require(bits == 8 || bits == 16, s"only 8/16-bit PCM supported, got $bits")
        case "data" =>
          require(rate > 0, "data chunk before fmt chunk")
          samples =
            if (bits == 8) Array.tabulate(len)(i => bb.get(bb.position() + i) & 0xff)
            else Array.tabulate(len / 2)(i => bb.getShort(bb.position() + 2 * i).toInt)
        case _ => // unknown chunk (LIST, fact, …): skip by declared size
      }
      bb.position(math.min(next, bb.limit()))
    }
    require(samples != null, "no data chunk found")
    Pcm(rate, channels, bits, samples)
  }
}
