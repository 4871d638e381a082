package graft.perfbench

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class EvidenceGenSpec extends AnyFunSuite {
  private val dir = Paths.get("target", "evidence-gen-spec")
  private val mib = 2

  private def readAt(path: java.nio.file.Path, offset: Long, len: Int): Array[Byte] = {
    val f = new RandomAccessFile(path.toFile, "r")
    try { val b = new Array[Byte](len); f.seek(offset); f.readFully(b); b } finally f.close()
  }

  test("every manifest entry reads back with its sha256") {
    val img = EvidenceGen.generate(dir, 7L, mib, "spec")
    assert(Files.size(img.path) == mib.toLong * 1024 * 1024)
    assert(img.planted.nonEmpty && img.textPages > 0 && img.randomPages > 0)
    img.planted.foreach { p =>
      assert(p.offset % EvidenceGen.Align == 0, s"${p.name} at ${p.offset} unaligned")
      assert(EvidenceGen.sha256(readAt(img.path, p.offset, p.size.toInt)) == p.sha256,
        s"${p.name} at ${p.offset}")
    }
    // the cached manifest describes the same image
    val again = EvidenceGen.readManifest(img.path, dir.resolve("spec.manifest.tsv"))
    assert(again == img)
    assert(EvidenceGen.verify(again))
  }

  test("a cached image that no longer matches its manifest is written afresh") {
    val img = EvidenceGen.obtain(dir, 9L, mib)
    val p = img.planted.head
    val f = new RandomAccessFile(img.path.toFile, "rw")
    try { f.seek(p.offset); f.write(~f.read()) } finally f.close()
    assert(!EvidenceGen.verify(img))
    assert(EvidenceGen.verify(EvidenceGen.obtain(dir, 9L, mib)))
  }

  test("the seed moves files but keeps the planted multiset") {
    val a = EvidenceGen.generate(dir, 1L, mib, "spec-a")
    val a2 = EvidenceGen.generate(dir, 1L, mib, "spec-a2")
    val b = EvidenceGen.generate(dir, 2L, mib, "spec-b")
    assert(a.planted == a2.planted)
    assert(java.util.Arrays.equals(Files.readAllBytes(a.path), Files.readAllBytes(a2.path)))
    assert(a.planted != b.planted)
    assert(a.planted.map(_.name).sorted == b.planted.map(_.name).sorted)
    assert((a.textPages, a.randomPages) == ((b.textPages, b.randomPages)))
  }
}
