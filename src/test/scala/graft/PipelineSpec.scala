package graft

import graft.carve.{EngineConfig, FileTypeConfig, HeaderPattern}
import graft.fixtures.FixtureBytes
import graft.evidence.InMemoryRef
import graft.pipeline.CarvePipeline
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Spark pipeline tests: a golden-image-style evidence buffer
  * with samples planted at known offsets, run through the full
  * scan→dedup→carve DAG (mirrors the reference's integration_basic.rs and
  * boundary_conditions.rs).
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  import FixtureBytes._

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Evidence with samples at 4096-aligned offsets (golden-image layout). */
  private def buildEvidence(samples: Seq[Array[Byte]]): (Array[Byte], Seq[(Long, Array[Byte])]) = {
    val align = 4096
    val total = samples.map(s => (s.length + align - 1) / align * align).sum + align
    val evidence = new Array[Byte](total)
    var off = align / 2 // start unaligned to prove offsets are tracked
    val planted = samples.map { s =>
      val at = (off + align - 1) / align * align
      System.arraycopy(s, 0, evidence, at, s.length)
      off = at + s.length
      (at.toLong, s)
    }
    (evidence, planted)
  }

  private val testCfg = EngineConfig(
    fileTypes = EngineConfig.defaultFileTypes.map(_.copy(minSize = 0)),
    chunkSize = 8192,
    overlap = 1024,
    stringMinLen = 6,
    stringMaxLen = 1024,
    entropyWindowSize = 256,
    entropyThreshold = 7.5)

  test("plants carve back with exact offsets, sizes and hashes") {
    val samples = Seq(jpeg(), png(), gif(), sqlite(), pdf(), webp(), bmp(), sevenZ(),
      zipWithEntry("word/document.xml"), ole("WordDocument"), tar(), mp3(), mp4())
    val (evidence, planted) = buildEvidence(samples)
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), testCfg, "testrun")
    val carved = result.carvedFiles.collect().map(c => c.globalStart -> c).toMap
    planted.foreach { case (at, sample) =>
      val c = carved.get(at)
      assert(c.isDefined, s"no carve at offset $at")
      assert(c.get.size == sample.length, s"size mismatch at $at: ${c.get.fileType}")
      assert(c.get.sha256 == sha256Hex(sample), s"sha mismatch at $at: ${c.get.fileType}")
    }
    // classification flowed through the distributed path
    assert(carved.values.exists(_.fileType == "docx"))
    assert(carved.values.exists(_.fileType == "doc"))
  }

  test("the payload dir holds exactly the carved rows' files, each of the row's size") {
    // dropped after streaming: a jpeg under min_size, an mp3 sync word
    // whose frame walk fails; dropped at classification: a plain zip
    // outside zip_allowed_kinds; two patterns of one custom type matching
    // at one offset carve the same path twice
    val dat = FileTypeConfig("dat", Seq("dat"),
      Seq(HeaderPattern("dat_short", "44415448"), HeaderPattern("dat_long", "4441544831")),
      Seq(HeaderPattern("dat_end", "454E4444")), maxSize = 1 << 20, minSize = 0, validator = "footer")
    val cfg = testCfg.copy(
      fileTypes = testCfg.fileTypes.map(ft => if (ft.id == "jpeg") ft.copy(minSize = 500) else ft) :+ dat,
      zipAllowedKinds = Some(Seq("docx")))
    val samples = Seq(jpeg(), mp3().drop(30), zipWithEntry("data.txt"),
      zipWithEntry("word/document.xml"), ole("WordDocument"), png(),
      "DATH1 custom payload ENDD".getBytes("ISO-8859-1"))
    val (evidence, _) = buildEvidence(samples)
    val dir = java.nio.file.Files.createTempDirectory("graft-payloads")
    val rows = CarvePipeline.run(spark, InMemoryRef(evidence), cfg, "payloads",
      payloadDir = Some(dir.toString)).carvedFiles.collect()
    val types = rows.map(_.fileType).toSet
    assert(Set("docx", "doc", "png", "dat").subsetOf(types), s"expected carves missing: $types")
    assert(!types.contains("jpeg") && !types.contains("mp3") && !types.contains("zip"), types)
    assert(rows.count(_.fileType == "dat") == 2)
    val files = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map { case p: java.nio.file.Path => dir.relativize(p).toString -> java.nio.file.Files.size(p) }
      finally walk.close()
    }
    assert(files.toMap == rows.map(r => r.path -> r.size).toMap)
    assert(files.size == rows.map(_.path).distinct.length)
  }

  test("file spanning a chunk boundary is carved once (overlap dedup)") {
    // chunkSize 8192: plant a jpeg straddling the first boundary
    val evidence = new Array[Byte](3 * 8192)
    val sample = jpeg()
    val at = 8192 - sample.length / 2
    System.arraycopy(sample, 0, evidence, at, sample.length)
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), testCfg, "t")
    val carved = result.carvedFiles.collect()
    assert(carved.count(_.fileType == "jpeg") == 1)
    assert(carved.head.globalStart == at && carved.head.size == sample.length)
  }

  test("file ending exactly at chunk size") {
    val sample = jpeg()
    val evidence = new Array[Byte](2 * 8192)
    System.arraycopy(sample, 0, evidence, 8192 - sample.length, sample.length)
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), testCfg, "t")
    val carved = result.carvedFiles.collect()
    assert(carved.length == 1 && carved.head.globalStart == 8192L - sample.length)
  }

  test("empty evidence") {
    val result = CarvePipeline.run(spark, InMemoryRef(Array.emptyByteArray), testCfg, "t")
    assert(result.carvedFiles.count() == 0)
  }

  test("string artefacts extracted with global offsets") {
    val msgText = "junk visit https://spark.example.com/docs now mail a.user@example.org junk"
    val msg = msgText.getBytes("ISO-8859-1")
    val (evidence, planted) = buildEvidence(Seq(msg))
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), testCfg, "t")
    val artefacts = result.artefacts.collect()
    val url = artefacts.find(_.artefactKind == "Url").get
    assert(url.content == "https://spark.example.com/docs")
    assert(url.globalStart == planted.head._1 + msgText.indexOf("https://"))
    assert(artefacts.exists(a => a.artefactKind == "Email" && a.content == "a.user@example.org"))
  }

  test("entropy regions found and merged") {
    val rnd = Array.tabulate[Byte](1024)(i => ((i * 131 + 17) % 256).toByte)
    val evidence = new Array[Byte](8192)
    System.arraycopy(rnd, 0, evidence, 512, 1024)
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), testCfg, "t")
    val regions = result.entropyRegions.collect()
    assert(regions.nonEmpty)
    assert(regions.head.globalStart == 512L)
    assert(regions.head.entropy >= 7.5)
  }

  test("run summary counts") {
    val (evidence, _) = buildEvidence(Seq(jpeg(), png()))
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), testCfg, "t")
    val summary = CarvePipeline.summarize(spark, "t", result)
    assert(summary.filesCarved == 2)
    assert(summary.bytesScanned >= evidence.length) // overlap re-read counts
    assert(summary.chunksProcessed == (evidence.length + 8191) / 8192)
    // observe() metrics fired by the summarize action
    val metrics = result.observation.get
    assert(metrics("chunks_processed") == summary.chunksProcessed)
    assert(metrics("hits_found").asInstanceOf[Long] >= 2L)
  }

  test("resume skips chunks before the offset") {
    val samples = Seq(jpeg(), jpeg())
    val (evidence, planted) = buildEvidence(samples)
    val second = planted(1)._1
    val resumeAt = (second / 8192) * 8192
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), testCfg, "t", resumeOffset = resumeAt)
    val carved = result.carvedFiles.collect()
    assert(carved.map(_.globalStart).toSet == Set(second))
  }

  test("entropy regions merge across chunk boundaries") {
    import spark.implicits._
    val regions = Seq(
      graft.core.EntropyRegion("r", 0, 255, 7.8, 256),
      graft.core.EntropyRegion("r", 256, 511, 7.9, 256),   // touches previous
      graft.core.EntropyRegion("r", 1024, 1279, 7.6, 256)) // gap
      .toDS()
    val merged = graft.functions.Entropy.mergeRegions(regions)
      .orderBy("globalStart").collect()
    assert(merged.length == 2)
    assert(merged(0).getAs[Long]("globalStart") == 0 && merged(0).getAs[Long]("globalEnd") == 511)
    assert(merged(0).getAs[Double]("entropy") == 7.9)
    assert(merged(1).getAs[Long]("globalStart") == 1024)
  }

  test("golden image: every default format carves back exactly") {
    import FixtureBytes._
    val samples: Seq[Array[Byte]] = Seq(
      jpeg(), png(), gif(), sqlite(), pdf(), webp(), bmp(), sevenZ(),
      zipWithEntry("word/document.xml"), ole("WordDocument"), tar(), mp3(),
      mp4(), mov(), webm(), wmv(), lrf(), fb2(), rar4(), ico(), ogg(), xz(),
      bzip2(), rtf(), elf64(), wav(), mobi())
    // (eml and gzip carve to the next boundary/EOF by design — exact-size
    // behavior is covered with explicit boundaries in CarverSpec)
    val (evidence, planted) = buildEvidence(samples)
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), testCfg, "golden")
    val carved = result.carvedFiles.collect().map(c => c.globalStart -> c).toMap
    planted.foreach { case (at, sample) =>
      val c = carved.get(at)
      assert(c.isDefined, s"no carve at $at")
      assert(c.get.size == sample.length, s"${c.get.fileType} at $at: ${c.get.size} != ${sample.length}")
      assert(c.get.sha256 == sha256Hex(sample), s"${c.get.fileType} at $at hash")
    }
    // classified types surfaced
    val types = carved.values.map(_.fileType).toSet
    assert(Set("docx", "doc", "mov", "webm", "wmv", "mobi", "rar").subsetOf(types))
  }

  test("max_bytes stops the scan at the budget") {
    val sample = jpeg()
    val evidence = new Array[Byte](4 * 8192)
    System.arraycopy(sample, 0, evidence, 100, sample.length)
    System.arraycopy(sample, 0, evidence, 3 * 8192 + 100, sample.length)
    val capped = testCfg.copy(maxBytes = Some(2 * 8192L))
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), capped, "t")
    // only the first jpeg is inside the byte budget
    assert(result.carvedFiles.collect().map(_.globalStart).toSeq == Seq(100L))
  }

  test("max_bytes is an absolute cap: resume_offset counts as spent") {
    val sample = jpeg()
    val evidence = new Array[Byte](4 * 8192)
    System.arraycopy(sample, 0, evidence, 2 * 8192 + 100, sample.length)
    // resume at 16 KiB with a 16 KiB absolute cap: budget already spent
    // (reference hit_max_bytes = resume_offset >= max_bytes, mod.rs:331)
    val spent = CarvePipeline.run(spark, InMemoryRef(evidence),
      testCfg.copy(maxBytes = Some(2 * 8192L)), "t", resumeOffset = 2 * 8192L)
    assert(spent.carvedFiles.isEmpty)
    // raising the cap to 24 KiB admits exactly the resumed chunk
    val roomy = CarvePipeline.run(spark, InMemoryRef(evidence),
      testCfg.copy(maxBytes = Some(3 * 8192L)), "t", resumeOffset = 2 * 8192L)
    assert(roomy.carvedFiles.collect().map(_.globalStart).toSeq == Seq(2 * 8192L + 100))
  }

  test("overlap bytes count toward the max_bytes budget") {
    val sample = jpeg()
    val evidence = new Array[Byte](4 * 8192)
    // chunk 0 reads 8192+1024 bytes, so chunk 1's remaining budget under a
    // 16 KiB cap is 7168 bytes: a header below that line is scanned, one
    // above it is not (reference charges data.len() incl. overlap)
    System.arraycopy(sample, 0, evidence, 8192 + 100, sample.length)
    System.arraycopy(sample, 0, evidence, 8192 + 7500, sample.length)
    val result = CarvePipeline.run(spark, InMemoryRef(evidence),
      testCfg.copy(maxBytes = Some(2 * 8192L)), "t")
    assert(result.carvedFiles.collect().map(_.globalStart).toSeq == Seq(8192L + 100))
  }

  test("carve handler failures are counted in the run summary") {
    val sample = jpeg()
    val evidence = new Array[Byte](8192)
    System.arraycopy(sample, 0, evidence, 100, sample.length)
    // a payload root nested under a regular file makes the payload sink
    // throw inside processHit — the hit must be dropped AND counted
    val blocker = java.nio.file.Files.createTempFile("graft-notadir", "")
    try {
      val result = CarvePipeline.run(spark, InMemoryRef(evidence), testCfg, "errs",
        payloadDir = Some(blocker.toString + "/payloads"))
      val summary = CarvePipeline.summarize(spark, "errs", result)
      assert(summary.filesCarved == 0L)
      assert(summary.errorCount >= 1L)
    } finally java.nio.file.Files.deleteIfExists(blocker)
  }

  test("fleet run carves every image in one job with evidence_id separation") {
    val (evA, plantedA) = buildEvidence(Seq(jpeg(), png(), pdf()))
    val (evB, plantedB) = buildEvidence(Seq(gif(), mp3()))
    val fleet = CarvePipeline.runMany(spark,
      Seq("imgA" -> InMemoryRef(evA), "imgB" -> InMemoryRef(evB)),
      testCfg, "fleetrun")
    try {
      val byImage = fleet.carvedFiles
        .groupBy("evidence_id").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byImage == Map("imgA" -> plantedA.size.toLong, "imgB" -> plantedB.size.toLong))
      // per-image rows equal a solo run of the same image
      val solo = CarvePipeline.run(spark, InMemoryRef(evA), testCfg, "fleetrun:imgA")
      val soloRows = solo.carvedFiles.collect().map(c => (c.globalStart, c.sha256)).toSet
      solo.release()
      val fleetRows = fleet.carvedFiles
        .filter(org.apache.spark.sql.functions.col("evidence_id") === "imgA")
        .collect().map(r => (r.getLong(r.fieldIndex("globalStart")),
          r.getString(r.fieldIndex("sha256")))).toSet
      assert(fleetRows == soloRows)
    } finally fleet.release()
    assert(fleet.perImage.values.forall(
      _.scanned.storageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "fleet release left scan datasets persisted")
  }
}
