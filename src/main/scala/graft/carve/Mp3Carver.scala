package graft.carve

/** MP3: ID3v2 syncsafe tag size, then MPEG frame-header walk computing
  * per-frame sizes from bitrate/sample-rate tables; ID3v1 `TAG` tail;
  * sync-word-only starts require ≥3 consecutive frames
  * (reference src/carve/mp3.rs).
  */
final class Mp3Carver(val maxSize: Long, val minSize: Long, val extension: String = "mp3")
    extends StreamCarver {
  override def fileType: String = "mp3"
  override protected def rejectUnvalidated: Boolean = true

  private val BitratesV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val BitratesV2L3 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
  private val SampleRates = Array(
    Array(11025, 12000, 8000, 0), // MPEG 2.5
    Array(0, 0, 0, 0), //            reserved
    Array(22050, 24000, 16000, 0), // MPEG 2
    Array(44100, 48000, 32000, 0)) // MPEG 1
  private val SamplesPerFrame = Array(
    Array(0, 576, 1152, 384),
    Array(0, 0, 0, 0),
    Array(0, 576, 1152, 384),
    Array(0, 1152, 1152, 384))

  /** 10 + syncsafe u28 size, or -1 if not an ID3v2 header. */
  private def parseId3v2Size(h: Array[Byte]): Long = {
    if (h.length < 10) return -1
    if (h(0) != 'I'.toByte || h(1) != 'D'.toByte || h(2) != '3'.toByte) return -1
    val size = ((h(6) & 0x7fL) << 21) | ((h(7) & 0x7fL) << 14) | ((h(8) & 0x7fL) << 7) | (h(9) & 0x7fL)
    10 + size
  }

  /** Frame length in bytes, or -1 for an invalid header. */
  private def parseFrameHeader(h: Array[Byte]): Int = {
    if (h.length < 4) return -1
    if ((h(0) & 0xff) != 0xff || (h(1) & 0xe0) != 0xe0) return -1
    val versionId = (h(1) >> 3) & 0x03
    val layerId = (h(1) >> 1) & 0x03
    val bitrateIdx = (h(2) >> 4) & 0x0f
    val sampleRateIdx = (h(2) >> 2) & 0x03
    val padding = (h(2) >> 1) & 0x01
    if (versionId == 1 || layerId == 0 || bitrateIdx == 0 || bitrateIdx == 15 || sampleRateIdx == 3)
      return -1
    val sampleRate = SampleRates(versionId)(sampleRateIdx)
    if (sampleRate == 0) return -1
    val bitrate = if (versionId == 3) BitratesV1L3(bitrateIdx) else BitratesV2L3(bitrateIdx)
    if (bitrate == 0) return -1
    if (SamplesPerFrame(versionId)(layerId) == 0) return -1
    if (layerId == 3) (12 * bitrate * 1000 / sampleRate + padding) * 4
    else {
      val slotSize = if (versionId == 3) 144 else 72
      slotSize * bitrate * 1000 / sampleRate + padding
    }
  }

  override protected def walk(cursor: WalkCursor, hit: CarveHit): Boolean = {
    val ctx = cursor.context
    val header = cursor.read(10)
    var audioStart = 0L
    var startedWithId3 = false
    val id3Size = parseId3v2Size(header)
    if (id3Size >= 0) {
      cursor.skip(id3Size - 10)
      audioStart = id3Size
      startedWithId3 = true
    } else if ((header(0) & 0xff) != 0xff || (header(1) & 0xe0) != 0xe0) {
      throw new CarveErrors.Invalid("mp3: no ID3v2 tag and no sync word")
    }

    var totalSize = math.max(audioStart, 10L)
    var frameCount = 0
    val maxFrames = 100000
    val effMax = if (maxSize > 0) maxSize else 500L * 1024 * 1024

    if (audioStart == 0) {
      val frameSize = parseFrameHeader(header)
      if (frameSize < 0) throw new CarveErrors.Invalid("mp3: invalid first frame header")
      if (frameSize > 10) cursor.skip(frameSize - 10)
      totalSize = frameSize.toLong
      frameCount = 1
    }

    var done = false
    while (!done && frameCount < maxFrames && totalSize < effMax) {
      val nextOffset = hit.globalOffset + totalSize
      ctx.evidence.readExactAt(nextOffset, 4) match {
        case None => done = true
        case Some(fh) =>
          if (fh(0) == 'T'.toByte && fh(1) == 'A'.toByte && fh(2) == 'G'.toByte) {
            cursor.skip(128)
            totalSize += 128
            done = true
          } else {
            val frameSize = parseFrameHeader(fh)
            if (frameSize < 0) done = true
            else {
              cursor.skip(frameSize)
              totalSize += frameSize
              frameCount += 1
            }
          }
      }
    }
    startedWithId3 || frameCount >= 3
  }
}
