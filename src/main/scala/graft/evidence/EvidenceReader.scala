package graft.evidence

import java.io.Closeable
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}

/** Random-access view of the evidence byte space (reference trait:
  * src/evidence.rs:28-31 `{ len(); read_at(offset, buf) }`).
  *
  * Carve validators read *beyond* their chunk (a 512 MiB ZIP spans chunks),
  * so the carve stage opens the evidence independently of the chunk
  * partitioning — one reader per task, ranged reads against shared storage
  * (SURVEY §7.4 "two-level evidence access", option (a)).
  */
trait EvidenceReader extends Closeable {
  def length: Long

  /** Read up to `len` bytes at `offset` into buf[bufOff..). Returns bytes
    * read; 0 only at/after EOF. Never throws on short reads.
    */
  def readAt(offset: Long, buf: Array[Byte], bufOff: Int, len: Int): Int

  def readAt(offset: Long, buf: Array[Byte]): Int = readAt(offset, buf, 0, buf.length)

  /** Read into buf[off..) until `len` bytes or EOF; returns the count,
    * short only at EOF. The one read-until-EOF loop over `readAt`.
    */
  def readFully(offset: Long, buf: Array[Byte], off: Int, len: Int): Int = {
    var got = 0
    var n = 1
    while (got < len && n > 0) {
      n = readAt(offset + got, buf, off + got, len - got)
      got += n
    }
    got
  }

  /** The one forward block loop: hands [from, end) to `block(n)` read by
    * read through `buf` (bytes buf[0, n)) and returns the offset reached,
    * short of `end` only where the evidence ends. A short read is not the
    * end — an E01 reader serves one chunk per call — only a read of 0 is.
    */
  def foreachBlock(from: Long, end: Long, buf: Array[Byte])(block: Int => Unit): Long = {
    var offset = from
    var n = 1
    while (offset < end && n > 0) {
      n = readAt(offset, buf, 0, math.min(end - offset, buf.length.toLong).toInt)
      if (n > 0) { block(n); offset += n }
    }
    offset
  }

  /** Convenience: exactly-`len` read or None (reference read_exact_at). */
  def readExactAt(offset: Long, len: Int): Option[Array[Byte]] =
    Some(new Array[Byte](len)).filter(buf => readFully(offset, buf, 0, len) == len)

  override def close(): Unit = ()
}

/** Evidence fully in memory — tests and small fixtures. */
final class InMemoryEvidence(data: Array[Byte]) extends EvidenceReader {
  override def length: Long = data.length.toLong
  override def readAt(offset: Long, buf: Array[Byte], bufOff: Int, len: Int): Int = {
    if (offset >= data.length) 0
    else {
      val n = math.min(len.toLong, data.length - offset).toInt
      System.arraycopy(data, offset.toInt, buf, bufOff, n)
      n
    }
  }
}

/** pread-style reads from a raw image on (shared) storage — the scale
  * path: every executor opens the same path read-only (reference
  * RawFileSource, src/evidence.rs:33-76).
  */
final class RawFileEvidence(path: String) extends EvidenceReader {
  private val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
  override val length: Long = ch.size()
  override def readAt(offset: Long, buf: Array[Byte], bufOff: Int, len: Int): Int = {
    if (offset >= length) 0
    else {
      val bb = ByteBuffer.wrap(buf, bufOff, math.min(len.toLong, length - offset).toInt)
      var total = 0
      var pos = offset
      while (bb.hasRemaining) {
        val n = ch.read(bb, pos)
        if (n <= 0) return total
        total += n
        pos += n
      }
      total
    }
  }
  override def close(): Unit = ch.close()
}

/** Serializable descriptor shipped to executors; each task opens its own
  * reader (FileChannels aren't serializable and must not be shared).
  * Open extension point: [[EwfRef]] adds EWF-E01 container reading; a
  * deployment with exotic evidence (device mappers, object stores)
  * implements the same two methods.
  */
trait EvidenceRef extends Serializable {
  def open(): EvidenceReader
}

final case class RawFileRef(path: String) extends EvidenceRef {
  override def open(): EvidenceReader = new RawFileEvidence(path)
}

final case class InMemoryRef(data: Array[Byte]) extends EvidenceRef {
  override def open(): EvidenceReader = new InMemoryEvidence(data)
}

/** Synthetic evidence: `slots` copies of small `samples` planted
  * round-robin at `stride` alignment, zero-filled between. Bytes are
  * GENERATED at read time, so nothing ships with the task — the closure
  * carries only the sample bytes (a few KiB) no matter how large the
  * byte space is. This is how the oracle-checked carve queries scale:
  * the evidence never exists materialized anywhere.
  */
final case class StridedSamplesRef(samples: IndexedSeq[Array[Byte]], stride: Long, slots: Long)
    extends EvidenceRef {
  require(samples.nonEmpty && samples.forall(_.length <= stride),
    "every sample must fit its stride slot")

  override def open(): EvidenceReader = new EvidenceReader {
    override val length: Long = stride * slots
    override def readAt(offset: Long, buf: Array[Byte], bufOff: Int, len: Int): Int = {
      if (offset >= length) 0
      else {
        val n = math.min(len.toLong, length - offset).toInt
        java.util.Arrays.fill(buf, bufOff, bufOff + n, 0.toByte)
        var slot = offset / stride
        while (slot < slots && slot * stride < offset + n) {
          val sample = samples((slot % samples.length).toInt)
          val sStart = slot * stride
          val from = math.max(offset, sStart)
          val to = math.min(offset + n, sStart + sample.length)
          if (to > from)
            System.arraycopy(sample, (from - sStart).toInt,
              buf, bufOff + (from - offset).toInt, (to - from).toInt)
          slot += 1
        }
        n
      }
    }
  }
}

/** Zero-filled synthetic evidence of arbitrary size (the reference's
  * zero-image benchmark shape) — nothing allocated, nothing shipped.
  */
final case class ZerosRef(lengthBytes: Long) extends EvidenceRef {
  override def open(): EvidenceReader = new EvidenceReader {
    override val length: Long = lengthBytes
    override def readAt(offset: Long, buf: Array[Byte], bufOff: Int, len: Int): Int = {
      if (offset >= length) 0
      else {
        val n = math.min(len.toLong, length - offset).toInt
        java.util.Arrays.fill(buf, bufOff, bufOff + n, 0.toByte)
        n
      }
    }
  }
}

/** Large in-memory evidence via a Spark broadcast — serialized once to
  * the block manager instead of once per task closure. Use for anything
  * beyond a few MiB (benchmarks, tests with big synthetic images).
  */
final case class BroadcastRef(bc: org.apache.spark.broadcast.Broadcast[Array[Byte]]) extends EvidenceRef {
  override def open(): EvidenceReader = new InMemoryEvidence(bc.value)
}

object BroadcastRef {
  def apply(spark: org.apache.spark.sql.SparkSession, data: Array[Byte]): BroadcastRef =
    BroadcastRef(spark.sparkContext.broadcast(data))
}
