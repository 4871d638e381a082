package graft

import graft.carve._
import graft.evidence.InMemoryEvidence
import graft.sqlite.{SqliteFile, SqlitePages, SqliteParseException}
import org.scalatest.funsuite.AnyFunSuite

/** Malformed-input robustness (reference tests/malformed_inputs.rs):
  * every carver must process arbitrary bytes — random junk, truncated
  * real headers, hostile length fields — without throwing, returning
  * either None or a well-formed record.
  */
class FuzzSpec extends AnyFunSuite {
  import graft.fixtures.FixtureBytes._

  private val registry = EngineConfig.buildRegistry(
    EngineConfig(fileTypes = EngineConfig.defaultFileTypes.map(_.copy(minSize = 0))))

  private def handlers: Seq[CarveHandler] = registry.values.toSeq

  private def runAll(evidence: Array[Byte], offset: Long): Unit = {
    val ctx = ExtractionContext("fuzz", new InMemoryEvidence(evidence))
    handlers.foreach { h =>
      h.processHit(CarveHit(offset, h.fileType, "fuzz_pat"), ctx).foreach { c =>
        assert(c.size >= 0 && c.globalEnd >= c.globalStart - 1)
        assert(c.sha256.length == 64 && c.md5.length == 32)
      }
    }
  }

  test("random bytes never crash any carver") {
    val master = new java.util.Random(42)
    (1 to 30).foreach { _ =>
      val len = master.nextInt(4096)
      val rnd = new java.util.Random(master.nextLong())
      val data = new Array[Byte](len)
      rnd.nextBytes(data)
      runAll(data, 0L)
      if (len > 10) runAll(data, (len / 2).toLong)
    }
  }

  test("truncated real headers never crash") {
    val samples = Seq(jpeg(), png(), gif(), sqlite(), pdf(), webp(), bmp(), sevenZ(),
      zipWithEntry("word/document.xml"), ole(), tar(), mp3(), mp4(), mov(), webm(),
      wmv(), lrf(), mobi(), fb2(), rar4(), ico(), ogg(), xz(), bzip2(), gzip(), eml(), rtf())
    samples.foreach { s =>
      Seq(1, 2, 4, 8, s.length / 2, math.max(1, s.length - 1)).foreach { cut =>
        runAll(s.take(cut), 0L)
      }
    }
  }

  test("bit-flipped samples never crash") {
    val samples = Seq(png(), zipWithEntry("a.txt"), ole(), tar(), webm(), mp3())
    samples.foreach { s =>
      (0 until math.min(s.length, 64)).foreach { i =>
        val mut = s.clone()
        mut(i) = (mut(i) ^ 0xff).toByte
        runAll(mut, 0L)
      }
    }
  }

  test("hostile length fields are bounded") {
    // png chunk length 0x7fffffff — the walk must stop cleanly (max_size)
    val bad = png()
    bad(8) = 0x7f.toByte; bad(9) = 0xff.toByte; bad(10) = 0xff.toByte; bad(11) = 0xff.toByte
    runAll(bad, 0L)
    // sqlite page_count huge: 512 MiB (the sqlite max_size) is declared
    // over 1 KiB of evidence, and no carver may allocate it
    val sq = sqlite()
    sq(28) = 0x7f.toByte; sq(29) = 0xff.toByte
    val (_, allocated) = WalkerSamples.allocatedBytes(runAll(sq, 0L))
    assert(allocated < 4L * 1024 * 1024, s"allocated $allocated bytes")
  }

  test("sqlite reader survives corrupt databases") {
    val fixture = getClass.getResourceAsStream("/fixtures/chrome_history.sqlite").readAllBytes()
    val master = new java.util.Random(7)
    (1 to 20).foreach { _ =>
      val rnd = new java.util.Random(master.nextLong())
      val mut = fixture.clone()
      (0 until 40).foreach { _ => mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte }
      try {
        val db = new SqliteFile(mut)
        db.masterRows.foreach(_ => ())
        if (db.hasTable("urls")) db.readTable("urls")
      } catch {
        case _: SqliteParseException => () // structured failure is fine
        case _: IllegalArgumentException => ()
        case _: OutOfMemoryError => fail("unbounded allocation")
      }
      SqlitePages.extractHistory(mut, "r", "s") // page scan must never throw
      ()
    }
  }
  test("EWF round-trip holds across random geometry and compression mixes") {
    import graft.evidence.EwfReader
    import graft.fixtures.FixtureBytes
    val rnd = new scala.util.Random(97)
    (1 to 12).foreach { trial =>
      val bytesPerSector = Seq(512, 1024)(rnd.nextInt(2))
      val sectorsPerChunk = Seq(2, 4, 8, 16)(rnd.nextInt(4))
      val sectors = 1 + rnd.nextInt(40)
      val compressEvery = Seq(1, 2, 3, 1000)(rnd.nextInt(4)) // all/alternate/sparse/none-but-first
      val data = Array.tabulate[Byte](sectors * bytesPerSector)(i =>
        ((i * (trial + 3) + rnd.nextInt(7)) % 251).toByte)
      val img = java.nio.file.Files.createTempFile("fuzz", ".E01")
      java.nio.file.Files.write(img,
        FixtureBytes.e01(data, sectorsPerChunk, bytesPerSector, compressEvery))
      val info = EwfReader.parse(img)
      assert(info.mediaSize == data.length.toLong, s"trial $trial: media size")
      val r = new graft.evidence.EwfEvidence(info)
      try {
        assert(r.readExactAt(0L, data.length).get.sameElements(data), s"trial $trial: content")
        // random window reads
        (1 to 5).foreach { _ =>
          val off = rnd.nextInt(data.length)
          val len = 1 + rnd.nextInt(data.length - off)
          assert(r.readExactAt(off.toLong, len).get.sameElements(data.slice(off, off + len)),
            s"trial $trial: window $off+$len")
        }
      } finally r.close()
      java.nio.file.Files.delete(img)
    }
  }

  test("truncated or bit-flipped E01 files fail loudly, never silently misread") {
    import graft.evidence.EwfReader
    import graft.fixtures.FixtureBytes
    val data = Array.tabulate[Byte](8192)(i => (i % 199).toByte)
    val good = FixtureBytes.e01(data)
    val rnd = new scala.util.Random(13)
    // truncations: parse must throw (never return wrong geometry)
    Seq(5, 13, 80, good.length / 2, good.length - 3).foreach { keep =>
      val img = java.nio.file.Files.createTempFile("fuzz", ".E01")
      java.nio.file.Files.write(img, java.util.Arrays.copyOf(good, keep))
      intercept[Exception] { EwfReader.parse(img) }
      java.nio.file.Files.delete(img)
    }
    // bit flips anywhere: either parse/read throws, or every byte read
    // back is correct (flips in slack space are allowed to be harmless)
    (1 to 20).foreach { _ =>
      val mutated = good.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
      val img = java.nio.file.Files.createTempFile("fuzz", ".E01")
      java.nio.file.Files.write(img, mutated)
      try {
        val info = EwfReader.parse(img)
        val r = new graft.evidence.EwfEvidence(info)
        try {
          val back = r.readExactAt(0L, data.length)
          back.foreach(b => assert(b.sameElements(data) || info.mediaSize != data.length,
            s"silent corruption from flip at $at"))
        } finally r.close()
      } catch { case _: Exception => () } // loud failure is the contract
      java.nio.file.Files.delete(img)
    }
  }
}
