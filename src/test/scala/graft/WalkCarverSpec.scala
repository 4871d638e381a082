package graft

import graft.carve._
import graft.fixtures.FixtureBytes.{leU16, leU32, md5Hex, sha256Hex}
import graft.evidence.InMemoryEvidence
import org.scalatest.funsuite.AnyFunSuite

/** The structure walkers (png, gif, sqlite, wav, avi, webp, tar, ogg, mp3,
  * rtf) plan their extent by position and copy it once in
  * [[CarveOps.finish]]: the records they give at every edge — evidence
  * cut in a header, in a body, one byte short; max_size below, at and
  * above the structure; min_size above it — are pinned here, and a
  * declared body size is never allocated.
  */
class WalkCarverSpec extends AnyFunSuite {
  import WalkerSamples._

  /** (walker, case, record) as [[WalkerSamples.describe]] prints it. */
  private val expected: Seq[(String, String, String)] = Seq(
    ("png", "whole", "57 validated=true truncated=false []"),
    ("png", "cut in header", "5 validated=false truncated=true [unexpected eof]"),
    ("png", "cut in body", "22 validated=false truncated=true [unexpected eof]"),
    ("png", "cut one short", "56 validated=false truncated=true [unexpected eof]"),
    ("png", "max one below", "53 validated=false truncated=true [truncated output]"),
    ("png", "max equal", "57 validated=true truncated=false []"),
    ("png", "max above", "57 validated=true truncated=false []"),
    ("png", "min above", "none"),
    ("gif", "whole", "56 validated=true truncated=false []"),
    ("gif", "cut in header", "4 validated=false truncated=true [unexpected eof]"),
    ("gif", "cut in body", "18 validated=false truncated=true [unexpected eof]"),
    ("gif", "cut one short", "55 validated=false truncated=true [unexpected eof]"),
    ("gif", "max one below", "55 validated=false truncated=true [truncated output]"),
    ("gif", "max equal", "56 validated=true truncated=false []"),
    ("gif", "max above", "56 validated=true truncated=false []"),
    ("gif", "min above", "none"),
    ("sqlite", "whole", "2048 validated=true truncated=false []"),
    ("sqlite", "cut in header", "50 validated=false truncated=true [unexpected eof]"),
    ("sqlite", "cut in body", "1000 validated=false truncated=true [unexpected eof]"),
    ("sqlite", "cut one short", "2047 validated=false truncated=true [unexpected eof]"),
    ("sqlite", "max one below", "2047 validated=true truncated=true [max_size reached]"),
    ("sqlite", "max equal", "2048 validated=true truncated=true [max_size reached]"),
    ("sqlite", "max above", "2048 validated=true truncated=false []"),
    ("sqlite", "min above", "none"),
    ("wav", "whole", "112 validated=true truncated=false []"),
    ("wav", "cut in header", "6 validated=false truncated=true [unexpected eof]"),
    ("wav", "cut in body", "60 validated=false truncated=true [unexpected eof]"),
    ("wav", "cut one short", "111 validated=false truncated=true [unexpected eof]"),
    ("wav", "max one below", "111 validated=true truncated=true [max_size reached]"),
    ("wav", "max equal", "112 validated=true truncated=true [max_size reached]"),
    ("wav", "max above", "112 validated=true truncated=false []"),
    ("wav", "min above", "none"),
    ("avi", "whole", "212 validated=true truncated=false []"),
    ("avi", "cut in header", "10 validated=false truncated=true [unexpected eof]"),
    ("avi", "cut in body", "100 validated=false truncated=true [unexpected eof]"),
    ("avi", "cut one short", "211 validated=false truncated=true [unexpected eof]"),
    ("avi", "max one below", "211 validated=true truncated=true [max_size reached]"),
    ("avi", "max equal", "212 validated=true truncated=true [max_size reached]"),
    ("avi", "max above", "212 validated=true truncated=false []"),
    ("avi", "min above", "none"),
    ("webp", "whole", "112 validated=true truncated=false []"),
    ("webp", "cut in header", "9 validated=false truncated=true [unexpected eof]"),
    ("webp", "cut in body", "20 validated=false truncated=true [unexpected eof]"),
    ("webp", "cut one short", "111 validated=false truncated=true [unexpected eof]"),
    ("webp", "max one below", "111 validated=true truncated=true [max_size reached]"),
    ("webp", "max equal", "112 validated=true truncated=true [max_size reached]"),
    ("webp", "max above", "112 validated=true truncated=false []"),
    ("webp", "min above", "none"),
    ("tar_ustar", "whole", "2560 validated=true truncated=false []"),
    ("tar_ustar", "cut in header", "300 validated=false truncated=true [unexpected eof]"),
    ("tar_ustar", "cut in body", "1000 validated=false truncated=true [unexpected eof]"),
    ("tar_ustar", "cut one short", "2559 validated=false truncated=true [unexpected eof]"),
    ("tar_ustar", "max one below", "2048 validated=false truncated=true [truncated output]"),
    ("tar_ustar", "max equal", "2560 validated=true truncated=true [max_size reached]"),
    ("tar_ustar", "max above", "2560 validated=true truncated=false []"),
    ("tar_ustar", "min above", "none"),
    ("tar", "whole", "2560 validated=true truncated=false []"),
    ("tar", "cut in header", "300 validated=false truncated=true [unexpected eof]"),
    ("tar", "cut in body", "1000 validated=false truncated=true [unexpected eof]"),
    ("tar", "cut one short", "2559 validated=false truncated=true [unexpected eof]"),
    ("tar", "max one below", "2048 validated=false truncated=true [truncated output]"),
    ("tar", "max equal", "2560 validated=true truncated=true [max_size reached]"),
    ("tar", "max above", "2560 validated=true truncated=false []"),
    ("tar", "min above", "none"),
    ("ogg", "whole", "71 validated=true truncated=false []"),
    ("ogg", "cut in header", "10 validated=false truncated=true [unexpected eof]"),
    ("ogg", "cut in body", "30 validated=false truncated=true [unexpected eof]"),
    ("ogg", "cut one short", "70 validated=false truncated=true [unexpected eof]"),
    ("ogg", "max one below", "67 validated=false truncated=true [truncated output]"),
    ("ogg", "max equal", "71 validated=true truncated=true [max_size reached]"),
    ("ogg", "max above", "71 validated=true truncated=false []"),
    ("ogg", "min above", "none"),
    ("mp3_id3", "whole", "447 validated=true truncated=false []"),
    ("mp3_id3", "cut in header", "5 validated=false truncated=true [unexpected eof]"),
    ("mp3_id3", "cut in body", "20 validated=false truncated=true [unexpected eof]"),
    ("mp3_id3", "cut one short", "446 validated=false truncated=true [unexpected eof]"),
    ("mp3_id3", "max one below", "30 validated=false truncated=true [truncated output]"),
    ("mp3_id3", "max equal", "447 validated=true truncated=true [max_size reached]"),
    ("mp3_id3", "max above", "447 validated=true truncated=false []"),
    ("mp3_id3", "min above", "none"),
    ("mp3_sync", "whole", "1251 validated=true truncated=false []"),
    ("mp3_sync", "cut in header", "5 validated=false truncated=true [unexpected eof]"),
    ("mp3_sync", "cut in body", "600 validated=false truncated=true [unexpected eof]"),
    ("mp3_sync", "cut one short", "1250 validated=false truncated=true [unexpected eof]"),
    ("mp3_sync", "max one below", "834 validated=false truncated=true [truncated output]"),
    ("mp3_sync", "max equal", "1251 validated=true truncated=true [max_size reached]"),
    ("mp3_sync", "max above", "1251 validated=true truncated=false []"),
    ("mp3_sync", "min above", "none"),
    ("rtf", "whole", "51 validated=true truncated=false []"),
    ("rtf", "cut in header", "3 validated=false truncated=true [unexpected eof]"),
    ("rtf", "cut in body", "20 validated=false truncated=true [unexpected eof]"),
    ("rtf", "cut one short", "50 validated=false truncated=true [unexpected eof]"),
    ("rtf", "max one below", "50 validated=false truncated=true [truncated output, max_size reached]"),
    ("rtf", "max equal", "51 validated=true truncated=true [max_size reached]"),
    ("rtf", "max above", "51 validated=true truncated=false []"),
    ("rtf", "min above", "none"))

  test("every walker gives the pinned record at every edge") {
    val table = expected.map { case (walker, edge, row) => (walker, edge) -> row }.toMap
    val seen = for (s <- all; (edge, evidence, at, maxSize, minSize) <- cases(s)) yield {
      val c = carve(s, evidence, at, maxSize, minSize)
      assert(describe(c) == table((s.name, edge)), s"${s.name} / $edge")
      c.foreach { f =>
        val bytes = evidence.slice(at.toInt, (at + f.size).toInt)
        assert(f.globalStart == at && f.md5 == md5Hex(bytes) && f.sha256 == sha256Hex(bytes),
          s"${s.name} / $edge: digests")
        assert(f.path == Naming.relPath(f.fileType, f.extension, at), s"${s.name} / $edge: path")
      }
      (s.name, edge)
    }
    assert(seen.toSet == table.keySet)
  }

  private val defaults = EngineConfig.buildRegistry(EngineConfig())

  private def carveDefault(fileType: String, evidence: Array[Byte]) =
    defaults(fileType).processHit(CarveHit(0L, fileType, "p"), ExtractionContext("walk", new InMemoryEvidence(evidence)))

  private def riff(form: String, declared: Long, evidenceLen: Int): Array[Byte] =
    "RIFF".getBytes("ISO-8859-1") ++ leU32(declared - 8) ++ form.getBytes("ISO-8859-1") ++
      new Array[Byte](evidenceLen - 12)

  /** Bytes allocated on this thread by one default carve, after a warm-up
    * carve of a whole sample has loaded every class on the path.
    */
  private def allocatedBy(fileType: String, warmUp: Array[Byte], evidence: Array[Byte]) = {
    carveDefault(fileType, warmUp)
    allocatedBytes(carveDefault(fileType, evidence))
  }

  private val truncatedAtEof = "validated=false truncated=true [unexpected eof]"

  test("a WAV declaring 1 GiB over 64 bytes of evidence carves the evidence in a bounded allocation") {
    val (c, bytes) = allocatedBy("wav", graft.fixtures.FixtureBytes.wav(), riff("WAVE", 0x3ffffff0L, 64))
    assert(describe(c) == s"64 $truncatedAtEof")
    assert(bytes < 4L * 1024 * 1024, s"allocated $bytes bytes")
  }

  test("a SQLite header declaring 512 MiB over 200 bytes carves the evidence in a bounded allocation") {
    val probe = new Array[Byte](200)
    System.arraycopy("SQLite format 3\u0000".getBytes("ISO-8859-1"), 0, probe, 0, 16)
    probe(16) = 0x10 // page size 4096
    probe(29) = 0x02 // page count 131072
    val (c, bytes) = allocatedBy("sqlite", graft.fixtures.FixtureBytes.sqlite(), probe)
    assert(describe(c) == s"200 $truncatedAtEof")
    assert(bytes < 4L * 1024 * 1024, s"allocated $bytes bytes")
  }

  test("an AVI declaring 3 GiB under the 4 GiB default carves instead of being dropped") {
    assert(describe(carveDefault("avi", riff("AVI ", 3L << 30, 1024))) == s"1024 $truncatedAtEof")
  }

  test("a RAR block running past the evidence end records the eof once") {
    // RAR4: magic, then a file block (type 0x74, 42-byte header) packing 100000 bytes
    val rar4 = Hex.decode("526172211A0700") ++ leU16(0) ++ Array[Byte](0x74) ++ leU16(0) ++ leU16(42) ++
      leU32(100000) ++ new Array[Byte](31)
    // RAR5: magic, then a file block (type 2, data-size flag) whose 127 data bytes are missing
    val rar5 = Hex.decode("526172211A070100") ++ new Array[Byte](4) ++ Array[Byte](3, 2, 2, 127)
    Seq(rar4 -> 49, rar5 -> 16).foreach { case (evidence, size) =>
      assert(evidence.length == size)
      val c = new RarCarver(0, 0).processHit(CarveHit(0L, "rar", "p"), ExtractionContext("walk", new InMemoryEvidence(evidence)))
      assert(describe(c) == s"$size validated=false truncated=true [eof before RAR end]")
    }
  }
}
