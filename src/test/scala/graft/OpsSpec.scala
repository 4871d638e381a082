package graft

import graft.carve.EngineConfig
import graft.core.CheckpointState
import graft.evidence.InMemoryRef
import graft.fixtures.FixtureBytes
import graft.pipeline.{CarvePipeline, Checkpoint}
import graft.sinks.{MetadataSinks, RunInfo}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Sinks, checkpoint/resume, and the Structured Streaming variant. */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-ops").toString

  private val cfg = EngineConfig(
    fileTypes = EngineConfig.defaultFileTypes.map(_.copy(minSize = 0)),
    chunkSize = 8192, overlap = 1024)

  test("metadata sinks write reference layouts") {
    val msg = "visit https://sink.example.com/x mail sink@example.org now".getBytes("ISO-8859-1")
    val evidence = new Array[Byte](16384)
    System.arraycopy(FixtureBytes.jpeg(), 0, evidence, 0, FixtureBytes.jpeg().length)
    System.arraycopy(msg, 0, evidence, 4096, msg.length)
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), cfg, "sinkrun")
    val info = RunInfo("sinkrun", "0.1.0", "cfg-hash", "mem://evidence", "sha")
    val out = tmp()
    MetadataSinks.writeAll(spark, out, "parquet", result.carvedFiles, result.artefacts, result.entropyRegions, info)
    val files = spark.read.parquet(s"$out/files")
    assert(files.columns.contains("carved_path") && files.columns.contains("file_type"))
    assert(files.count() == 1)
    val urls = spark.read.parquet(s"$out/artefacts_urls")
    val row = urls.collect().head
    assert(row.getAs[String]("url") == "https://sink.example.com/x")
    assert(row.getAs[String]("host") == "sink.example.com")
    val emails = spark.read.parquet(s"$out/artefacts_emails")
    assert(emails.collect().head.getAs[String]("domain") == "example.org")
    // jsonl + csv backends also produce readable output
    val out2 = tmp()
    MetadataSinks.writeAll(spark, out2, "jsonl", result.carvedFiles, result.artefacts, result.entropyRegions, info)
    assert(spark.read.json(s"$out2/carved_files").count() == 1)
  }

  test("checkpoint roundtrip and validation") {
    val path = tmp() + "/cp.json"
    val state = CheckpointState(1, "run \"x\"", 8192, 1024, 16384, 1 << 20, "2026-08-12T00:00:00Z")
    Checkpoint.save(path, state)
    val loaded = Checkpoint.load(path)
    assert(loaded == state)
    assert(Checkpoint.validate(loaded, 8192, 1024, 1 << 20) == Right(16384L))
    assert(Checkpoint.validate(loaded, 4096, 1024, 1 << 20).isLeft)
    assert(Checkpoint.validate(loaded, 8192, 512, 1 << 20).isLeft)
    assert(Checkpoint.validate(loaded.copy(nextOffset = 1 << 21), 8192, 1024, 1 << 20).isLeft)
  }

  test("streaming variant carves announced chunk ranges exactly once") {
    val sample = FixtureBytes.jpeg()
    val evidence = new Array[Byte](3 * 8192)
    System.arraycopy(sample, 0, evidence, 100, sample.length)
    System.arraycopy(sample, 0, evidence, 16500, sample.length)
    val manifestDir = tmp()
    val outDir = tmp()
    val cpDir = tmp()
    Files.write(java.nio.file.Paths.get(s"$manifestDir/m0.json"),
      """{"start": 0, "length": 8192}
        |{"start": 16384, "length": 8192}""".stripMargin.getBytes)
    val q = StreamingPipeline.run(spark, manifestDir, InMemoryRef(evidence), cfg,
      "stream-run", outDir, cpDir)
    q.awaitTermination(60000)
    val batches = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("batch_"))
    assert(batches.nonEmpty)
    val carved = spark.read.parquet(batches.map(_.getPath): _*)
    assert(carved.count() == 2)
    assert(carved.select("globalStart").collect().map(_.getLong(0)).toSet == Set(100L, 16500L))
  }

  test("payload writing produces byte-exact carved files with classified paths") {
    val jpeg = FixtureBytes.jpeg()
    val docx = FixtureBytes.zipWithEntry("word/document.xml")
    val evidence = new Array[Byte](3 * 8192)
    System.arraycopy(jpeg, 0, evidence, 256, jpeg.length)
    System.arraycopy(docx, 0, evidence, 8192, docx.length)
    val outDir = tmp()
    val result = CarvePipeline.run(spark, InMemoryRef(evidence), cfg, "payrun",
      enableStrings = false, enableEntropy = false, payloadDir = Some(outDir))
    val carved = result.carvedFiles.collect()
    assert(carved.length == 2)
    carved.foreach { c =>
      val bytes = Files.readAllBytes(java.nio.file.Paths.get(outDir, c.path))
      assert(bytes.length == c.size)
      assert(FixtureBytes.sha256Hex(bytes) == c.sha256)
    }
    assert(carved.exists(_.path.startsWith("docx/")))
    assert(Files.exists(java.nio.file.Paths.get(outDir, "docx")))
  }

  test("carve re-validation detects payload tampering") {
    val jpeg = FixtureBytes.jpeg()
    val evidence = new Array[Byte](8192)
    System.arraycopy(jpeg, 0, evidence, 64, jpeg.length)
    val ref = InMemoryRef(evidence)
    val result = CarvePipeline.run(spark, ref, cfg, "v", enableStrings = false, enableEntropy = false)
    val ok = CarvePipeline.validateCarved(spark, ref, result.carvedFiles)
    assert(ok.collect().forall(_._2))
    // tampered evidence: same records, different bytes
    val tampered = evidence.clone(); tampered(70) = 0x55
    val bad = CarvePipeline.validateCarved(spark, InMemoryRef(tampered), result.carvedFiles)
    assert(bad.collect().exists(!_._2))
  }

  test("progress listener emits percent/MiB-s/ETA events during a pipeline run") {
    import graft.pipeline.{ProgressEvent, ProgressListener}
    val evidence = new Array[Byte](64 * 1024)
    System.arraycopy(FixtureBytes.jpeg(), 0, evidence, 4096, FixtureBytes.jpeg().length)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[ProgressEvent]()
    val listener = new ProgressListener("progrun", evidence.length.toLong,
      intervalMs = 0L, onProgress = events.add(_))
    spark.sparkContext.addSparkListener(listener)
    try {
      CarvePipeline.run(spark, InMemoryRef(evidence), cfg, "progrun",
        enableStrings = false, enableEntropy = false).carvedFiles.count()
      // listener-bus delivery is async; wait briefly for the task-end events
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (events.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!events.isEmpty, "no progress events captured")
      val last = events.toArray(Array.empty[ProgressEvent]).last
      assert(last.runId == "progrun")
      assert(last.bytesScanned > 0 && last.totalBytes == evidence.length.toLong)
      assert(last.percent > 0.0 && last.percent <= 100.0)
      assert(last.mibPerSec > 0.0 && last.etaSec >= 0.0)
      assert(listener.bytesScanned >= evidence.length.toLong) // overlap re-reads count too
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sink schemas match the reference parquet layouts column for column") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val info = RunInfo("r", "0.1.0", "cfg", "ev", "sha")
    val prov = Seq("run_id" -> StringType, "tool_version" -> StringType,
      "config_hash" -> StringType, "evidence_path" -> StringType,
      "evidence_sha256" -> StringType)
    def check(df: org.apache.spark.sql.DataFrame, want: Seq[(String, DataType)]): Unit = {
      val got = df.schema.fields.map(f => f.name -> f.dataType).toSeq
      assert(got == want, s"\ngot:  $got\nwant: $want")
    }
    val carved = Seq(graft.core.CarvedFile("r", "docx", "docx/f.docx", "docx",
      0L, 10L, 10L, "m", "s", validated = true, truncated = false, Seq("e1", "e2"), "zip_header"))
      .toDS()
    val filesDf = MetadataSinks.carvedFilesDf(spark, carved, info)
    check(filesDf, prov ++ Seq(
      "handler_id" -> StringType, "file_type" -> StringType, "carved_path" -> StringType,
      "global_start" -> LongType, "global_end" -> LongType, "size" -> LongType,
      "md5" -> StringType, "sha256" -> StringType, "pattern_id" -> StringType,
      "magic_bytes" -> BinaryType, "validated" -> BooleanType, "truncated" -> BooleanType,
      "error" -> StringType))
    // zip-family handler collapse + errors array join + null magic_bytes
    val fr = filesDf.collect().head
    assert(fr.getAs[String]("handler_id") == "zip")
    assert(fr.getAs[String]("error") == "e1; e2")
    assert(fr.isNullAt(fr.fieldIndex("magic_bytes")))

    val arts = Seq(
      graft.core.StringArtefact("r", "Url", "https://h.example/p", "ascii", 0L, 19L),
      graft.core.StringArtefact("r", "Email", "a@b.example", "ascii", 20L, 31L),
      graft.core.StringArtefact("r", "Phone", "+1 555 0100", "ascii", 40L, 51L)).toDS()
    check(MetadataSinks.urlArtefactsDf(spark, arts, info), prov ++ Seq(
      "global_start" -> LongType, "global_end" -> LongType, "url" -> StringType,
      "scheme" -> StringType, "host" -> StringType, "port" -> IntegerType,
      "path" -> StringType, "query" -> StringType, "fragment" -> StringType,
      "source_kind" -> StringType, "source_detail" -> StringType, "certainty" -> DoubleType))
    check(MetadataSinks.emailArtefactsDf(spark, arts, info), prov ++ Seq(
      "global_start" -> LongType, "global_end" -> LongType, "email" -> StringType,
      "local_part" -> StringType, "domain" -> StringType,
      "source_kind" -> StringType, "source_detail" -> StringType, "certainty" -> DoubleType))
    check(MetadataSinks.phoneArtefactsDf(spark, arts, info), prov ++ Seq(
      "global_start" -> LongType, "global_end" -> LongType, "phone_raw" -> StringType,
      "phone_e164" -> StringType, "country" -> StringType,
      "source_kind" -> StringType, "source_detail" -> StringType, "certainty" -> DoubleType))
    assert(MetadataSinks.urlArtefactsDf(spark, arts, info).collect()
      .head.getAs[String]("source_kind") == "string_span")

    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-01-02T03:04:05.000006Z"))
    val hist = Seq(graft.core.BrowserHistoryRecord("r", "chrome", "Default",
      Some("https://x.example"), Some("t"), Some(ts), Some(3L), Some("link"), "History")).toDS()
    check(MetadataSinks.browserHistoryDf(spark, hist, info), prov ++ Seq(
      "source_file" -> StringType, "browser" -> StringType, "profile" -> StringType,
      "url" -> StringType, "title" -> StringType, "visit_time_utc" -> TimestampType,
      "visit_source" -> StringType, "row_id" -> LongType, "table_name" -> StringType))

    val cookies = Seq(graft.core.BrowserCookieRecord("r", "chrome", "Default",
      Some("h"), Some("n"), Some("v"), Some("/"), Some(ts), Some(ts), Some(ts),
      Some(true), Some(false), "Cookies")).toDS()
    check(MetadataSinks.browserCookiesDf(spark, cookies, info), prov ++ Seq(
      "source_file" -> StringType, "browser" -> StringType, "profile" -> StringType,
      "host" -> StringType, "name" -> StringType, "value" -> StringType,
      "path" -> StringType, "expires_utc" -> TimestampType,
      "last_access_utc" -> TimestampType, "creation_utc" -> TimestampType,
      "is_secure" -> BooleanType, "is_http_only" -> BooleanType))

    val dls = Seq(graft.core.BrowserDownloadRecord("r", "firefox", "p1",
      Some("https://d.example/f"), Some("/tmp/f"), Some(ts), Some(ts), Some(9L),
      Some("complete"), "places.sqlite")).toDS()
    check(MetadataSinks.browserDownloadsDf(spark, dls, info), prov ++ Seq(
      "source_file" -> StringType, "browser" -> StringType, "profile" -> StringType,
      "url" -> StringType, "target_path" -> StringType, "start_time_utc" -> TimestampType,
      "end_time_utc" -> TimestampType, "total_bytes" -> LongType, "state" -> StringType))

    val summary = Seq(graft.core.RunSummary("r", 1L, 2L, 3L, 4L, 5L, 6L, 0L)).toDS()
    check(MetadataSinks.runSummaryDf(spark, summary, info), prov ++ Seq(
      "bytes_scanned" -> LongType, "chunks_processed" -> LongType,
      "hits_found" -> LongType, "files_carved" -> LongType,
      "string_spans" -> LongType, "artefacts_extracted" -> LongType))

    val regions = Seq(graft.core.EntropyRegion("r", 0L, 4096L, 7.9, 4096L)).toDS()
    check(MetadataSinks.entropyRegionsDf(spark, regions, info), prov ++ Seq(
      "global_start" -> LongType, "global_end" -> LongType,
      "entropy" -> DoubleType, "window_size" -> LongType))
  }

  test("Carve main honors the reference CLI toggles (types filter, stage switches)") {
    spark // force the suite session up so runJob's getOrCreate reuses it
    val jpeg = FixtureBytes.jpeg()
    val png = FixtureBytes.png()
    val evidence = new Array[Byte](16384)
    System.arraycopy(jpeg, 0, evidence, 0, jpeg.length)
    System.arraycopy(png, 0, evidence, 4096, png.length)
    val img = Files.createTempFile("graft-carve", ".dd")
    Files.write(img, evidence)
    // a config file with fixture-sized minimums (the embedded default's
    // forensic min_sizes would reject the tiny synthetic samples)
    val yml = Files.createTempFile("graft-cfg", ".yml")
    Files.write(yml,
      """file_types:
        |  - id: "jpeg"
        |    extensions: ["jpg"]
        |    header_patterns:
        |      - id: "jpeg_soi"
        |        hex: "FFD8FF"
        |    footer_patterns: []
        |    max_size: 1000000
        |    min_size: 0
        |    validator: "jpeg"
        |  - id: "png"
        |    extensions: ["png"]
        |    header_patterns:
        |      - id: "png_sig"
        |        hex: "89504E470D0A1A0A"
        |    footer_patterns: []
        |    max_size: 1000000
        |    min_size: 0
        |    validator: "png"
        |""".stripMargin.getBytes("UTF-8"))
    val out = tmp()
    Carve.runJob(Array(img.toString, out, yml.toString), Map(
      "GRAFT_TYPES" -> "jpeg",          // allow-list: png must not carve
      "GRAFT_SCAN_ENTROPY" -> "false",  // entropy stage off
      "GRAFT_CHUNK_MIB" -> "1",
      "GRAFT_RUN_ID" -> "togglerun"), stopSession = false)
    val files = spark.read.parquet(s"$out/files")
    val types = files.select("file_type").collect().map(_.getString(0)).toSeq
    assert(types == Seq("jpeg"), s"expected only the jpeg to carve, got $types")
    val entropy = spark.read.parquet(s"$out/entropy_regions")
    assert(entropy.count() == 0L, "entropy stage ran despite GRAFT_SCAN_ENTROPY=false")
    assert(spark.read.parquet(s"$out/run_summary").count() == 1L)
  }

  private def writeToggleYml(extra: String = ""): java.nio.file.Path = {
    val yml = Files.createTempFile("graft-cfg", ".yml")
    Files.write(yml,
      (s"""$extra
         |file_types:
         |  - id: "jpeg"
         |    extensions: ["jpg"]
         |    header_patterns:
         |      - id: "jpeg_soi"
         |        hex: "FFD8FF"
         |    footer_patterns: []
         |    max_size: 1000000
         |    min_size: 0
         |    validator: "jpeg"
         |  - id: "png"
         |    extensions: ["png"]
         |    header_patterns:
         |      - id: "png_sig"
         |        hex: "89504E470D0A1A0A"
         |    footer_patterns: []
         |    max_size: 1000000
         |    min_size: 0
         |    validator: "png"
         |""").stripMargin.trim.getBytes("UTF-8"))
    yml
  }

  private def writeImage(bytes: Array[Byte]): java.nio.file.Path = {
    val img = Files.createTempFile("graft-carve", ".dd")
    Files.write(img, bytes)
    img
  }

  test("Carve main gates per-artefact extraction with flag-over-file precedence") {
    spark
    val text = "visit https://toggle.example.com/page mail toggler@example.org now"
    val evidence = new Array[Byte](16384)
    System.arraycopy(text.getBytes("ISO-8859-1"), 0, evidence, 100, text.length)
    val img = writeImage(evidence)

    // flag disables what the file left on
    val out1 = tmp()
    Carve.runJob(Array(img.toString, out1, writeToggleYml().toString), Map(
      "GRAFT_SCAN_URLS" -> "false", "GRAFT_CHUNK_MIB" -> "1",
      "GRAFT_SCAN_ENTROPY" -> "false", "GRAFT_RUN_ID" -> "art1"), stopSession = false)
    assert(spark.read.parquet(s"$out1/artefacts_urls").count() == 0L,
      "url extraction ran despite GRAFT_SCAN_URLS=false")
    assert(spark.read.parquet(s"$out1/artefacts_emails").count() > 0L,
      "email extraction must stay on when only urls are disabled")

    // flag re-enables what the file turned off (flag > file, config.rs merge_cli)
    val out2 = tmp()
    Carve.runJob(Array(img.toString, out2,
      writeToggleYml("enable_url_scan: false").toString), Map(
      "GRAFT_SCAN_URLS" -> "true", "GRAFT_CHUNK_MIB" -> "1",
      "GRAFT_SCAN_ENTROPY" -> "false", "GRAFT_RUN_ID" -> "art2"), stopSession = false)
    assert(spark.read.parquet(s"$out2/artefacts_urls").count() > 0L,
      "GRAFT_SCAN_URLS=true must override enable_url_scan: false in the file")

    // string-min-len above every span length suppresses all artefacts
    val out3 = tmp()
    Carve.runJob(Array(img.toString, out3, writeToggleYml().toString), Map(
      "GRAFT_STRING_MIN_LEN" -> "2000", "GRAFT_CHUNK_MIB" -> "1",
      "GRAFT_SCAN_ENTROPY" -> "false", "GRAFT_RUN_ID" -> "art3"), stopSession = false)
    assert(spark.read.parquet(s"$out3/artefacts_urls").count() == 0L &&
      spark.read.parquet(s"$out3/artefacts_emails").count() == 0L,
      "no span reaches GRAFT_STRING_MIN_LEN=2000, artefact sinks must be empty")
  }

  test("Carve main dry-run scans and counts but writes nothing") {
    spark
    val jpeg = FixtureBytes.jpeg()
    val evidence = new Array[Byte](16384)
    System.arraycopy(jpeg, 0, evidence, 0, jpeg.length)
    val img = writeImage(evidence)
    val out = tmp()
    Carve.runJob(Array(img.toString, out, writeToggleYml().toString), Map(
      "GRAFT_DRY_RUN" -> "true", "GRAFT_CHUNK_MIB" -> "1",
      "GRAFT_RUN_ID" -> "dryrun"), stopSession = false)
    for (sink <- Seq("files", "artefacts_urls", "run_summary", "carved"))
      assert(!Files.exists(java.nio.file.Paths.get(out, sink)),
        s"dry-run must not write $sink")
  }

  test("Carve main validate/remove flags re-verify carved output and enforce pairing") {
    spark
    val jpeg = FixtureBytes.jpeg()
    val evidence = new Array[Byte](16384)
    System.arraycopy(jpeg, 0, evidence, 0, jpeg.length)
    val img = writeImage(evidence)
    val out = tmp()
    Carve.runJob(Array(img.toString, out, writeToggleYml().toString), Map(
      "GRAFT_VALIDATE_CARVED" -> "true", "GRAFT_REMOVE_INVALID" -> "true",
      "GRAFT_CHUNK_MIB" -> "1", "GRAFT_SCAN_ENTROPY" -> "false",
      "GRAFT_RUN_ID" -> "valrun"), stopSession = false)
    // untampered evidence: every carve re-verifies, nothing is removed
    assert(spark.read.parquet(s"$out/files").count() == 1L)
    // --remove-invalid without --validate-carved is a CLI contract error
    intercept[IllegalArgumentException] {
      Carve.runJob(Array(img.toString, tmp(), writeToggleYml().toString), Map(
        "GRAFT_REMOVE_INVALID" -> "true", "GRAFT_RUN_ID" -> "badpair"),
        stopSession = false)
    }
  }

  test("Carve main verifies a supplied evidence sha256 digest") {
    spark
    val jpeg = FixtureBytes.jpeg()
    val evidence = new Array[Byte](16384)
    System.arraycopy(jpeg, 0, evidence, 0, jpeg.length)
    val img = writeImage(evidence)
    val good = FixtureBytes.sha256Hex(evidence)
    val out = tmp()
    Carve.runJob(Array(img.toString, out, writeToggleYml().toString), Map(
      "GRAFT_EVIDENCE_SHA256" -> good.toUpperCase, "GRAFT_CHUNK_MIB" -> "1",
      "GRAFT_SCAN_ENTROPY" -> "false", "GRAFT_RUN_ID" -> "sharun"), stopSession = false)
    assert(spark.read.parquet(s"$out/files").count() == 1L)
    intercept[IllegalArgumentException] {
      Carve.runJob(Array(img.toString, tmp(), writeToggleYml().toString), Map(
        "GRAFT_EVIDENCE_SHA256" -> ("0" * 64), "GRAFT_RUN_ID" -> "shabad"),
        stopSession = false)
    }
  }

  test("chunk geometry a JVM byte array cannot hold is rejected at planning") {
    import graft.core.ChunkPlanner
    val big = 2048L * 1024 * 1024 // GRAFT_CHUNK_MIB=2048: chunk + overlap > Int.MaxValue
    def rejects(plan: => Any): Unit = {
      val e = intercept[IllegalArgumentException](plan)
      assert(e.getMessage.contains(s"chunk size $big + overlap"), e.getMessage)
    }
    rejects(ChunkPlanner.planLocal(10L, big, 65536L))
    rejects(ChunkPlanner.plan(spark, 10L, big, 65536L))
    val negative = intercept[IllegalArgumentException](ChunkPlanner.planLocal(10L, 4096L, -1L))
    assert(negative.getMessage.contains("overlap -1"), negative.getMessage)
    // the largest geometry an array holds still plans
    assert(ChunkPlanner.planLocal(10L, ChunkPlanner.MaxChunkBytes - 65536L, 65536L)
      .map(_.length) == Seq(10L))
    // the CLI override reaches the same rule before any chunk is read
    rejects(Carve.runJob(Array(writeImage(new Array[Byte](4096)).toString, tmp()),
      Map("GRAFT_CHUNK_MIB" -> "2048", "GRAFT_RUN_ID" -> "bigchunk"), stopSession = false))
  }

  test("file and chunk budgets past Int.MaxValue carve everything; negative budgets are rejected") {
    spark
    val jpeg = FixtureBytes.jpeg()
    val png = FixtureBytes.png()
    val evidence = new Array[Byte](12288)
    System.arraycopy(jpeg, 0, evidence, 0, jpeg.length)
    System.arraycopy(png, 0, evidence, 6000, png.length)
    val img = writeImage(evidence)
    val yml = writeToggleYml("chunk_size: 4096\noverlap_bytes: 512")
    def carvedSet(env: Map[String, String]): Set[(String, Long, String)] = {
      val out = tmp()
      Carve.runJob(Array(img.toString, out, yml.toString), env + ("GRAFT_RUN_ID" -> "budget"),
        stopSession = false)
      spark.read.parquet(s"$out/files")
        .select("file_type", "global_start", "sha256").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    }
    val all = carvedSet(Map.empty)
    assert(all.map(_._1) == Set("jpeg", "png"))
    // 4294967296 narrowed by toInt is 0, 2147483648 is negative
    for (budget <- Seq("4294967296", "2147483648"))
      assert(carvedSet(Map("GRAFT_MAX_FILES" -> budget, "GRAFT_MAX_CHUNKS" -> budget)) == all, budget)
    for (key <- Seq("GRAFT_MAX_FILES", "GRAFT_MAX_CHUNKS")) {
      val e = intercept[IllegalArgumentException](carvedSet(Map(key -> "-1")))
      assert(e.getMessage.contains("negative budget"), e.getMessage)
    }
  }

  test("Carve main writes a checkpoint at a cap stop; resume completes to byte parity") {
    spark
    val jpeg = FixtureBytes.jpeg()
    val png = FixtureBytes.png()
    val evidence = new Array[Byte](12288)
    System.arraycopy(jpeg, 0, evidence, 0, jpeg.length)
    System.arraycopy(png, 0, evidence, 6000, png.length)
    val img = writeImage(evidence)
    val yml = writeToggleYml("chunk_size: 4096\noverlap_bytes: 512")
    def carvedSet(out: String): Set[(String, Long, String)] =
      spark.read.parquet(s"$out/files")
        .select("file_type", "global_start", "sha256").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

    val full = tmp()
    Carve.runJob(Array(img.toString, full, yml.toString),
      Map("GRAFT_SCAN_STRINGS" -> "false", "GRAFT_SCAN_ENTROPY" -> "false",
        "GRAFT_RUN_ID" -> "ckfull"), stopSession = false)

    val cp = Files.createTempFile("graft-ck", ".json").toString
    val part1 = tmp()
    Carve.runJob(Array(img.toString, part1, yml.toString),
      Map("GRAFT_MAX_CHUNKS" -> "1", "GRAFT_CHECKPOINT_PATH" -> cp,
        "GRAFT_SCAN_STRINGS" -> "false", "GRAFT_SCAN_ENTROPY" -> "false",
        "GRAFT_RUN_ID" -> "ckpart"), stopSession = false)
    val state = Checkpoint.load(cp)
    assert(state.nextOffset == 4096L,
      s"cap stop after chunk 0 must checkpoint next_offset=4096, got ${state.nextOffset}")

    val part2 = tmp()
    Carve.runJob(Array(img.toString, part2, yml.toString),
      Map("GRAFT_RESUME_FROM" -> cp,
        "GRAFT_SCAN_STRINGS" -> "false", "GRAFT_SCAN_ENTROPY" -> "false",
        "GRAFT_RUN_ID" -> "ckresume"), stopSession = false)

    val stitched = carvedSet(part1) ++ carvedSet(part2)
    assert(stitched == carvedSet(full),
      s"stop+resume must equal the uncapped run: $stitched vs ${carvedSet(full)}")
    assert(carvedSet(part1).nonEmpty && carvedSet(part2).nonEmpty,
      "both halves of the split run should carve something")
  }

  test("sqlite page recovery toggles the tolerant fallback for unparseable DBs") {
    import spark.implicits._
    val in = getClass.getResourceAsStream("/fixtures/chrome_history.sqlite")
    val db = try in.readAllBytes() finally in.close()
    // break the sqlite_master root page b-tree header: table-level parse
    // finds nothing, but the leaf pages (and their URLs) stay intact
    java.util.Arrays.fill(db, 100, 120, 0.toByte)
    val ref = InMemoryRef(db)
    val carved = Seq(graft.core.CarvedFile("r", "sqlite", "sqlite/x.sqlite", "sqlite",
      0L, db.length.toLong - 1, db.length.toLong, "", "", validated = true,
      truncated = false, errors = Seq.empty, patternId = "sqlite_header")).toDS()
    assert(graft.sqlite.SqliteArtefacts.history(spark, ref, carved, "r").count() == 0L,
      "page recovery must stay off by default (reference default false)")
    val recovered = graft.sqlite.SqliteArtefacts
      .history(spark, ref, carved, "r", pageRecovery = true).collect()
    assert(recovered.nonEmpty, "page scan should recover urls from intact leaf pages")
    assert(recovered.forall(_.browser == "sqlite_page"))
  }

  test("CarveFleet main carves a comma-separated intake with per-image outputs") {
    spark
    def writeImage(name: String, samples: Seq[Array[Byte]]): String = {
      val evidence = new Array[Byte](16384)
      samples.zipWithIndex.foreach { case (s, i) =>
        System.arraycopy(s, 0, evidence, i * 4096, s.length)
      }
      val p = Files.createTempFile(name, ".dd")
      Files.write(p, evidence)
      p.toString
    }
    val imgA = writeImage("fleetA", Seq(FixtureBytes.jpeg(), FixtureBytes.png()))
    val imgB = writeImage("fleetB", Seq(FixtureBytes.gif()))
    val yml = Files.createTempFile("graft-fleet-cfg", ".yml")
    Files.write(yml,
      """file_types:
        |  - id: "jpeg"
        |    extensions: ["jpg"]
        |    header_patterns:
        |      - id: "jpeg_soi"
        |        hex: "FFD8FF"
        |    footer_patterns: []
        |    max_size: 1000000
        |    min_size: 0
        |    validator: "jpeg"
        |  - id: "png"
        |    extensions: ["png"]
        |    header_patterns:
        |      - id: "png_sig"
        |        hex: "89504E470D0A1A0A"
        |    footer_patterns: []
        |    max_size: 1000000
        |    min_size: 0
        |    validator: "png"
        |  - id: "gif"
        |    extensions: ["gif"]
        |    header_patterns:
        |      - id: "gif89a"
        |        hex: "474946383961"
        |    footer_patterns: []
        |    max_size: 1000000
        |    min_size: 0
        |    validator: "gif"
        |""".stripMargin.getBytes("UTF-8"))
    val out = tmp()
    CarveFleet.runJob(Array(s"$imgA,$imgB", out, yml.toString),
      Map("GRAFT_RUN_ID" -> "fleettest"), stopSession = false)
    val byImage = spark.read.parquet(s"$out/files")
      .groupBy("evidence_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val aName = new java.io.File(imgA).getName
    val bName = new java.io.File(imgB).getName
    assert(byImage == Map(aName -> 2L, bName -> 1L), s"got $byImage")
    val summary = spark.read.parquet(s"$out/run_summary")
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(summary == Map(aName -> 2L, bName -> 1L), s"got $summary")
  }

  test("Shard main writes one file per shard, manifest matches shardChecksums, re-run is byte-identical") {
    import org.apache.spark.sql.functions._
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val out = tmp()
    val manifest = Shard.run(spark, docsPath, out, budget = 2000L)
      .orderBy("source", "shard_ix")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    graft.llm.CacheRegistry.releaseAll(spark)
    assert(manifest.nonEmpty)

    // manifest must equal the independent shardChecksums computation
    // (the q194 oracle surface) on the same corpus and budget
    val docs = spark.read.parquet(docsPath)
      .select(col("source"), col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val want = graft.llm.Curation
      .shardChecksums(docs, "source", "doc_id", "toks", "text", 2000L)
      .orderBy("source", "shard_ix")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(manifest == want, s"manifest diverged from shardChecksums")

    // one data file per shard directory, and the read-back union is the corpus
    def shardFiles(base: String): Map[String, java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$base/data"))
        .filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.toString.stripPrefix(base))
        .map { case (shard, fs) =>
          assert(fs.size == 1, s"shard $shard has ${fs.size} files")
          shard -> fs.head
        }
    }
    val files = shardFiles(out)
    assert(files.size == manifest.size, s"${files.size} shard dirs vs ${manifest.size} manifest rows")
    val readBack = spark.read.parquet(s"$out/data")
    assert(readBack.count() == docs.count())
    assert(readBack.agg(sum(col("n_tokens"))).head.getLong(0) ==
      manifest.map(_._4).sum)

    // a re-run over the same corpus must rewrite byte-identical shard
    // content (names carry task uuids; bytes are the contract)
    def sha(f: java.io.File): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map(b => f"$b%02x").mkString
    }
    val out2 = tmp()
    Shard.run(spark, docsPath, out2, budget = 2000L).count()
    graft.llm.CacheRegistry.releaseAll(spark)
    val files2 = shardFiles(out2)
    assert(files.keySet == files2.keySet)
    files.foreach { case (shard, f) =>
      assert(sha(f) == sha(files2(shard)), s"shard $shard bytes drifted on re-run")
    }
  }

  test("Quality gate passes the real documents table and fails a corrupted copy") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cleanIn = tmp() + "/docs"
    docs.write.parquet(cleanIn)
    val (report, profile) = Quality.run(spark, cleanIn, tmp())
    val rep = report.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep.size === Quality.documentChecks.size)
    assert(rep.values.forall { case (v, p) => v == 0L && p == 1L },
      s"clean snapshot should pass every check: $rep")
    val prof = profile.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(prof("doc_id") === 0L) // no nulls anywhere in the contract cols
    // corrupt it: duplicate one doc_id, null one lang
    val broken = docs.limit(1).withColumn("lang", lit(null: String))
      .unionByName(docs)
    val brokenIn = tmp() + "/docs"
    broken.write.parquet(brokenIn)
    val (report2, _) = Quality.run(spark, brokenIn, tmp())
    val rep2 = report2.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep2("unique(doc_id)") === ((1L, 0L)))
    assert(rep2("not_null(lang)") === ((1L, 0L)))
    assert(rep2("not_null(text)")._2 === 1L) // untouched columns still pass
  }

  test("index compaction restores one file per bucket with row-identical reads") {
    import graft.llm.{Dedup, Retrieval, VectorIndex}
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = tmp()
    val nb = 4

    // ---- BM25: build from one third, append the other two thirds
    val bidx = s"$base/bidx"
    Retrieval.buildIndex(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", bidx, nb)
    Retrieval.appendToIndex(docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", bidx)
    Retrieval.appendToIndex(docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", bidx)
    def bm25() = Retrieval.bm25TopKIndexed(spark, bidx, Seq(Seq("the"), Seq("a", "of")), k = 5)
      .orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    val bmBefore = bm25()
    assert(Compact.dataFileCount(s"$bidx/postings") > nb, "appends should grow file count")
    Retrieval.compactIndex(spark, bidx)
    assert(Compact.dataFileCount(s"$bidx/postings") === nb)
    assert(Compact.dataFileCount(s"$bidx/terms") === nb)
    assert(Retrieval.indexExists(bidx), "compaction must clear its fence")
    assert(bm25() === bmBefore, "bm25 results changed across compaction")

    // ---- dedup keys
    val didx = s"$base/didx"
    Dedup.buildDedupIndex(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
      didx, nb, shingleN = 3, numHashes = 8, rowsPerBand = 2)
    Dedup.appendToDedupIndex(docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", didx)
    Dedup.appendToDedupIndex(docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", didx)
    def flags() = Dedup.dedupAgainstIndex(docs.limit(40), "doc_id", "text", didx)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val dBefore = flags()
    assert(Compact.dataFileCount(s"$didx/exact") > nb)
    Dedup.compactDedupIndex(spark, didx)
    assert(Compact.dataFileCount(s"$didx/exact") === nb)
    assert(Compact.dataFileCount(s"$didx/bands") === nb)
    assert(Dedup.dedupIndexExists(didx))
    assert(flags() === dBefore, "dedup probe changed across compaction")

    // ---- IVF-PQ lists
    val vidx = s"$base/vidx"
    VectorIndex.buildIndex(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      coarse = emb.filter(col("vec_id") < 8), codebook = emb.filter(col("vec_id") < 16),
      indexDir = vidx, numBuckets = nb)
    VectorIndex.appendToIndex(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", vidx)
    val probes = emb.filter(col("vec_id") >= 10 && col("vec_id") < 14)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    def ann() = VectorIndex.annTopKIndexed(spark, vidx, probes, k = 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val vBefore = ann()
    val vFilesBefore = Compact.dataFileCount(s"$vidx/lists")
    assert(vFilesBefore > nb)
    VectorIndex.compactIndex(spark, vidx)
    // ≤ nb: an EMPTY bucket writes no file (8 distinct cent_ids over 4
    // buckets can leave one bucket unpopulated)
    val vFilesAfter = Compact.dataFileCount(s"$vidx/lists")
    assert(vFilesAfter <= nb && vFilesAfter < vFilesBefore,
      s"lists: $vFilesBefore files -> $vFilesAfter, want <= $nb")
    assert(VectorIndex.indexExists(vidx))
    assert(ann() === vBefore, "ANN results changed across compaction")

    // a tripped fence reads as an absent index (detectable, not silent)
    val fence = new java.io.File(vidx, "_graft_compact_pending")
    java.nio.file.Files.createFile(fence.toPath)
    assert(!VectorIndex.indexExists(vidx))
    java.nio.file.Files.delete(fence.toPath)
  }

  test("ANN tombstone deletes: immediate exact exclusion, compaction reclaims the rows") {
    import graft.llm.VectorIndex
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = emb.filter(col("vec_id") < 8)
    val cb = emb.filter(col("vec_id") < 16)
    val idx = tmp() + "/vidx"
    val surv = tmp() + "/vidx2"
    VectorIndex.buildIndex(emb, "vec_id", "embedding", coarse, cb, idx, 4)
    VectorIndex.buildIndex(emb.filter(col("vec_id") % 10 =!= 7),
      "vec_id", "embedding", coarse, cb, surv, 4)
    val probes = emb.filter(col("vec_id") >= 10 && col("vec_id") < 14)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    def rows(d: String) = VectorIndex.annTopKIndexed(spark, d, probes, 5, 2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val deleted = emb.filter(col("vec_id") % 10 === 7)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSeq
    VectorIndex.deleteFromIndex(spark, idx, deleted)
    // pre-merge results ALREADY equal a rebuild over the survivors
    // (no corpus stats in ADC scoring)
    assert(rows(idx) === rows(surv))
    VectorIndex.compactIndex(spark, idx)
    assert(!new java.io.File(idx, "tombstones").exists(), "tombstones must clear")
    assert(rows(idx) === rows(surv), "post-merge results changed")
  }

  test("BM25 tombstone deletes: immediate exclusion, compaction makes them physical") {
    import graft.llm.Retrieval
    import spark.implicits._
    val idx = tmp() + "/bidx"
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple dates elderberry"),
      (3L, "apple banana fig")).toDF("doc_id", "text")
    Retrieval.buildIndex(docs, "doc_id", "text", idx, numBuckets = 2)
    def hits() = Retrieval.bm25TopKIndexed(spark, idx, Seq(Seq("apple")), k = 3)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(hits() === Set(1L, 2L, 3L))
    Retrieval.deleteFromIndex(spark, idx, Seq(2L))
    // served immediately without a rewrite; re-delete is harmless
    assert(hits() === Set(1L, 3L))
    Retrieval.deleteFromIndex(spark, idx, Seq(2L))
    assert(hits() === Set(1L, 3L))
    // compaction drops the postings physically and clears tombstones;
    // the result then equals a rebuild over the survivors EXACTLY
    Retrieval.compactIndex(spark, idx)
    assert(!new java.io.File(idx, "tombstones").exists(), "tombstones must clear")
    val rebuilt = tmp() + "/bidx2"
    Retrieval.buildIndex(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") =!= 2L),
      "doc_id", "text", rebuilt, numBuckets = 2)
    def rows(d: String) = Retrieval.bm25TopKIndexed(spark, d, Seq(Seq("apple")), k = 3)
      .orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    assert(rows(idx) === rows(rebuilt),
      "compacted-after-delete index must equal a rebuild over the survivors")
  }
}
