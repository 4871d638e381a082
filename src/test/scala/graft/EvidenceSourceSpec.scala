package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** DataSource V2 evidence table: chunk partitioning, overlap math, and
  * column pruning (no payload read when `data` is not selected).
  */
class EvidenceSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("reads an image as overlapping chunk rows") {
    val img = Files.createTempFile("ev", ".dd")
    val data = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
    Files.write(img, data)
    val df = spark.read.format("graft.sources.EvidenceSource")
      .option("path", img.toString)
      .option("chunkSize", "3000")
      .option("overlap", "100")
      .load()
    val rows = df.orderBy("chunk_id").collect()
    assert(rows.length == 4) // ceil(10000/3000)
    assert(rows.map(_.getAs[Long]("start")).toSeq == Seq(0L, 3000L, 6000L, 9000L))
    assert(rows.map(_.getAs[Long]("valid_length")).toSeq == Seq(3000L, 3000L, 3000L, 1000L))
    val d0 = rows(0).getAs[Array[Byte]]("data")
    assert(d0.length == 3100) // chunk + overlap
    assert(d0.sameElements(data.slice(0, 3100)))
    val d3 = rows(3).getAs[Array[Byte]]("data")
    assert(d3.length == 1000) // tail
    // aggregation without `data` prunes the payload column
    val counted = df.select(count(lit(1))).as("n")
    val plan = counted.queryExecution.executedPlan.toString
    assert(counted.first().getLong(0) == 4L)
    assert(!plan.contains("data#") || !plan.split("ReadSchema").last.contains("data"))
  }

  test("scan over the DSv2 table finds planted signatures") {
    import spark.implicits._
    val img = Files.createTempFile("ev2", ".dd")
    val bytes = new Array[Byte](8192)
    val jpeg = graft.fixtures.FixtureBytes.jpeg()
    System.arraycopy(jpeg, 0, bytes, 5000, jpeg.length)
    Files.write(img, bytes)
    graft.functions.GraftFunctions.register(spark)
    spark.read.format("graft.sources.EvidenceSource")
      .option("path", img.toString).option("chunkSize", "4096").option("overlap", "64")
      .load().createOrReplaceTempView("evidence")
    val hits = spark.sql(
      """SELECT start + byte_offset AS global_offset
        |FROM evidence LATERAL VIEW scan_signatures(data, 'FFD8FF') t
        |WHERE byte_offset < valid_length
        |ORDER BY global_offset""".stripMargin).as[Long].collect()
    assert(hits.toSeq == Seq(5000L))
  }

  test("hits mode pushes file_type predicates into the scan's pattern set") {
    val img = Files.createTempFile("evhits", ".dd")
    val bytes = new Array[Byte](16384)
    val jpeg = graft.fixtures.FixtureBytes.jpeg()
    val png = graft.fixtures.FixtureBytes.png()
    val pdf = graft.fixtures.FixtureBytes.pdf()
    System.arraycopy(jpeg, 0, bytes, 1000, jpeg.length)
    System.arraycopy(png, 0, bytes, 5000, png.length)
    System.arraycopy(pdf, 0, bytes, 9000, pdf.length)
    Files.write(img, bytes)
    val df = spark.read.format("graft.sources.EvidenceSource")
      .option("path", img.toString).option("mode", "hits")
      .option("chunkSize", "4096").option("overlap", "64")
      .load()
      .filter(col("file_type").isin("jpeg", "png"))
    val rows = df.select("global_offset", "file_type").orderBy("global_offset")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1000L, "jpeg"), (5000L, "png")))
    // the predicate reached automaton construction, not a post-filter:
    // the scan object itself carries the pruned type set
    val hitsScan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collectFirst { case s: graft.sources.EvidenceHitsScan => s }
    assert(hitsScan.isDefined, "expected a BatchScanExec over EvidenceHitsScan")
    assert(hitsScan.get.pushedTypes.contains(Seq("jpeg", "png")),
      s"pattern set not pruned: ${hitsScan.get.pushedTypes}")
    // unfiltered: all three planted types surface
    val all = spark.read.format("graft.sources.EvidenceSource")
      .option("path", img.toString).option("mode", "hits")
      .option("chunkSize", "4096").option("overlap", "64")
      .load().select("global_offset").orderBy("global_offset")
      .collect().map(_.getLong(0))
    assert(all.toSeq == Seq(1000L, 5000L, 9000L))
    // the `types` option prunes without a WHERE (the --types analog),
    // and a predicate intersects further
    val typed = spark.read.format("graft.sources.EvidenceSource")
      .option("path", img.toString).option("mode", "hits")
      .option("types", "jpeg,pdf")
      .option("chunkSize", "4096").option("overlap", "64")
      .load()
    assert(typed.select("global_offset").orderBy("global_offset")
      .collect().map(_.getLong(0)).toSeq == Seq(1000L, 9000L))
    assert(typed.filter(col("file_type") === "pdf")
      .select("global_offset").collect().map(_.getLong(0)).toSeq == Seq(9000L))
  }

  test("hits mode pushes COUNT(*) aggregation down to per-partition partial counts") {
    val img = Files.createTempFile("evcount", ".dd")
    val bytes = new Array[Byte](16384)
    val jpeg = graft.fixtures.FixtureBytes.jpeg()
    val png = graft.fixtures.FixtureBytes.png()
    // two jpegs in different chunks + one png: partial counts must sum
    System.arraycopy(jpeg, 0, bytes, 1000, jpeg.length)
    System.arraycopy(jpeg, 0, bytes, 9000, jpeg.length)
    System.arraycopy(png, 0, bytes, 5000, png.length)
    Files.write(img, bytes)
    def hits = spark.read.format("graft.sources.EvidenceSource")
      .option("path", img.toString).option("mode", "hits")
      .option("chunkSize", "4096").option("overlap", "64")
      .load()

    val grouped = hits.groupBy("file_type").count().orderBy("file_type")
    val got = grouped.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("jpeg", 2L), ("png", 1L)))
    // the scan line carries the pushed-agg marker; the final agg SUMS
    // the per-partition partials (AQE wraps stages, so match the plan
    // text rather than collecting through QueryStageExec boundaries)
    val gp = grouped.queryExecution.executedPlan.toString
    assert(gp.contains("PushedAggregation: count(*) group by file_type"),
      s"grouped count did not push down:\n$gp")
    assert(gp.contains("sum(agg_func"), s"final agg must sum partial counts:\n$gp")

    val total = hits.agg(count(lit(1))).collect()(0).getLong(0)
    assert(total == 3L)

    // a residual predicate blocks the pushdown (filters are re-checked
    // post-scan) — the count must still be exact via the row scan
    val filtered = hits.filter(col("file_type") === "jpeg").groupBy("file_type").count()
    assert(filtered.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("jpeg", 2L)))
    assert(!filtered.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "residual-filtered count must NOT push aggregation (would be inexact)")

    // LIMIT pushes as a per-partition cap (partial): the scan line
    // carries the marker and the preview returns exactly n valid hits
    val preview = hits.limit(2)
    val prows = preview.collect()
    assert(prows.length == 2 && prows.forall(r => Set("jpeg", "png")(r.getString(1))))
    assert(preview.queryExecution.executedPlan.toString.contains("PushedLimit: 2"),
      s"limit did not reach the scan:\n${preview.queryExecution.executedPlan}")
    // a residual filter between LIMIT and scan must block the pushdown
    val filteredPreview = hits.filter(col("file_type") === "png").limit(1)
    assert(filteredPreview.collect().map(_.getString(1)).toSeq == Seq("png"))
    assert(!filteredPreview.queryExecution.executedPlan.toString.contains("PushedLimit"),
      "residual-filtered preview must NOT push the limit (could starve the filter)")
  }

  test("JsonlCorpus splits every line into exactly clean or quarantine") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    Files.write(java.nio.file.Paths.get(dir, "part.jsonl"),
      java.util.Arrays.asList(
        """{"doc_id": 1, "text": "a b", "lang": "en", "source": "s1"}""",
        """{"doc_id": 2, "text": "c", "lang": "de", "source": "s1"}""",
        """{"doc_id": 3, "text": "truncat""",
        """not json at all""",
        // parseable but wrong type: doc_id is a string -> PERMISSIVE
        // nulls the field and keeps the line in the corrupt column
        """{"doc_id": "x", "text": "d", "lang": "en", "source": "s2"}"""))
    val parsed = graft.sources.JsonlCorpus.read(spark, dir)
    val clean = graft.sources.JsonlCorpus.clean(parsed)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val bad = graft.sources.JsonlCorpus.quarantine(parsed)
      .collect().map(_.getString(0)).toSeq
    assert(clean == Seq((1L, "a b"), (2L, "c")), s"clean: $clean")
    assert(bad.size == 3 && bad.exists(_.contains("not json")), s"bad: $bad")
    assert(clean.size + bad.size == 5)
    graft.llm.CacheRegistry.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("parquet chunk-table scan matches the raw pipeline") {
    val img = Files.createTempFile("ev3", ".dd")
    val bytes = new Array[Byte](3 * 4096)
    val jpeg = graft.fixtures.FixtureBytes.jpeg()
    System.arraycopy(jpeg, 0, bytes, 4090, jpeg.length) // straddles a chunk boundary
    Files.write(img, bytes)
    val cfg = graft.carve.EngineConfig(
      fileTypes = graft.carve.EngineConfig.defaultFileTypes.map(_.copy(minSize = 0)),
      chunkSize = 4096, overlap = 128)
    // ingest: DSv2 -> parquet chunk table
    val ingestDir = Files.createTempDirectory("ingest").toString
    spark.read.format("graft.sources.EvidenceSource")
      .option("path", img.toString).option("chunkSize", "4096").option("overlap", "128")
      .load().write.mode("overwrite").parquet(ingestDir)
    // stage 1 over the parquet table; stage 2 carve against the raw image
    val scanned = graft.pipeline.CarvePipeline.scanChunkTable(
      spark, spark.read.parquet(ingestDir), cfg, "pq", enableStrings = false, enableEntropy = false)
    val hits = scanned.collect().flatMap(_.hits)
    assert(hits.map(_.globalOffset).toSeq == Seq(4090L))
    // equivalent to the raw pipeline
    val raw = graft.pipeline.CarvePipeline.run(
      spark, graft.evidence.RawFileRef(img.toString), cfg, "raw", false, false)
    assert(raw.carvedFiles.collect().map(_.globalStart).toSeq == Seq(4090L))
  }
  test("stage 1 agrees across run, scanChunkTable and DSv2 hits with strings and entropy on") {
    import graft.pipeline.CarvePipeline
    val (cs, ov, tail) = (4096, 256, 1000)
    // more chunks than scan tasks, so one task's reused read buffer holds
    // the random and text chunks before the short tail chunk
    val n = 3 * spark.sparkContext.defaultParallelism
    val rnd = new scala.util.Random(11)
    val bytes = new Array[Byte]((n - 1) * cs + tail)
    def put(at: Int, b: Array[Byte]): Unit = System.arraycopy(b, 0, bytes, at, b.length)
    for (i <- 0 until n - 1) {
      if (i % 2 == 0) {
        val page = new Array[Byte](cs); rnd.nextBytes(page); put(i * cs, page)
      } else {
        val line = s"visit http://example.org/p$i or mail user$i@example.com call 555-123-4567\n"
        put(i * cs, (line * (cs / line.length)).getBytes("UTF-8"))
      }
      // stale bytes past the tail's end: scanning past `got` would read
      // "bob@example.com" out of the tail's trailing "write to bob"
      put(i * cs + tail, "@example.com now".getBytes("UTF-8"))
    }
    val tailText = "write to bob".getBytes("UTF-8")
    put((n - 1) * cs + tail - tailText.length, tailText)
    put(1 * cs + 200, graft.fixtures.FixtureBytes.jpeg())
    put(4 * cs + 4000, graft.fixtures.FixtureBytes.png()) // header owned by chunk 4, body past it
    put(6 * cs + cs - 2, graft.fixtures.FixtureBytes.jpeg()) // header straddles chunks 6 and 7
    val img = Files.createTempFile("evstage1", ".dd")
    Files.write(img, bytes)
    val cfg = graft.carve.EngineConfig(chunkSize = cs, overlap = ov, stringScanUtf16 = true,
      entropyWindowSize = 256, entropyThreshold = 7.0)
    def load(mode: String) = spark.read.format("graft.sources.EvidenceSource")
      .option("path", img.toString).option("chunkSize", cs.toString).option("overlap", ov.toString)
      .option("mode", mode).load()

    val raw = CarvePipeline.run(spark, graft.evidence.RawFileRef(img.toString), cfg, "eq")
    val viaRun = raw.scanned.collect().sortBy(_.chunkId).toSeq
    raw.release()
    val viaTable = CarvePipeline.scanChunkTable(spark, load("chunks"), cfg, "eq")
      .collect().sortBy(_.chunkId).toSeq
    assert(viaRun.size == n)
    assert(viaRun.exists(_.hits.nonEmpty) && viaRun.exists(_.artefacts.nonEmpty) &&
      viaRun.exists(_.regions.nonEmpty), s"a stage-1 half found nothing: $viaRun")
    assert(viaRun == viaTable)
    assert(!viaRun.flatMap(_.artefacts).exists(_.content.contains("bob@")),
      "the tail scan read stale buffer bytes past the chunk's end")

    val patterns = graft.scan.SignatureScan(cfg).patterns
    val runHits = viaRun.flatMap(_.hits).map { h =>
      (h.globalOffset, patterns(h.patternId).fileTypeId, patterns(h.patternId).patternId)
    }.sorted
    val dsv2Hits = load("hits").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(runHits.map(_._1).contains(7L * cs - 2), s"straddling header missed: $runHits")
    assert(dsv2Hits == runHits)
  }

  test("EwfRef reads a synthesized E01: geometry, cross-chunk reads, EOF") {
    import graft.evidence.EwfRef
    import graft.fixtures.FixtureBytes
    // 44 sectors (22528 bytes) at 8 sectors/chunk -> 5 full chunks + a
    // 2048-byte tail chunk; alternate chunks zlib-compressed
    val data = Array.tabulate[Byte](22528)(i => ((i * 31 + 7) % 251).toByte)
    val img = Files.createTempFile("ev", ".E01")
    Files.write(img, FixtureBytes.e01(data, sectorsPerChunk = 8, bytesPerSector = 512))
    val ref = EwfRef(img.toString)
    assert(ref.mediaSize == data.length.toLong)
    val r = ref.open()
    try {
      assert(r.length == data.length.toLong)
      assert(r.readExactAt(0L, data.length).get.sameElements(data))
      // unaligned read crossing a compressed/raw chunk boundary
      assert(r.readExactAt(4000L, 300).get.sameElements(data.slice(4000, 4300)))
      // inside the short tail chunk
      assert(r.readExactAt(22000L, 400).get.sameElements(data.slice(22000, 22400)))
      assert(r.readAt(data.length.toLong, new Array[Byte](8), 0, 8) == 0)
    } finally r.close()
  }

  test("EwfReader verifies structure: corrupt descriptor checksum is rejected") {
    import graft.fixtures.FixtureBytes
    val data = Array.tabulate[Byte](8192)(i => (i % 113).toByte)
    val bytes = FixtureBytes.e01(data)
    bytes(20) = (bytes(20) ^ 0x5a).toByte // inside the volume section descriptor
    val img = Files.createTempFile("ev", ".E01")
    Files.write(img, bytes)
    intercept[IllegalArgumentException] {
      graft.evidence.EwfReader.parse(img)
    }
  }

  test("carve pipeline reads E01 evidence end to end, matching the raw image") {
    import graft.carve.EngineConfig
    import graft.evidence.{EwfRef, InMemoryRef}
    import graft.fixtures.FixtureBytes
    val jpeg = FixtureBytes.jpeg()
    // a 3126-byte BMP at 8000 crosses the EWF chunk boundaries at 8192 and
    // 10240, so its ranged copy needs several short EWF reads
    val bmp = FixtureBytes.bmp(32, 32)
    val data = new Array[Byte](16384) // 32 sectors
    System.arraycopy(jpeg, 0, data, 5000, jpeg.length)
    System.arraycopy(bmp, 0, data, 8000, bmp.length)
    val img = Files.createTempFile("ev", ".E01")
    Files.write(img, FixtureBytes.e01(data, sectorsPerChunk = 4, bytesPerSector = 512))
    val cfg = EngineConfig(
      fileTypes = EngineConfig.defaultFileTypes.filter(t => t.id == "jpeg" || t.id == "bmp")
        .map(_.copy(minSize = 0)),
      chunkSize = 6000, overlap = 512) // pipeline chunks deliberately misaligned with EWF chunks
    val fromEwf = graft.pipeline.CarvePipeline.run(
      spark, EwfRef(img.toString), cfg, "ewf", false, false)
      .carvedFiles.collect().map(c => (c.globalStart, c.size, c.sha256)).toSeq
    val fromRaw = graft.pipeline.CarvePipeline.run(
      spark, InMemoryRef(data), cfg, "ewf", false, false)
      .carvedFiles.collect().map(c => (c.globalStart, c.size, c.sha256)).toSeq
    assert(fromEwf.nonEmpty && fromEwf.sorted == fromRaw.sorted)
    assert(fromEwf.map(c => c._1 -> c._2).toSet == Set(5000L -> jpeg.length.toLong, 8000L -> bmp.length.toLong))
  }
  test("DSv2 evidence source auto-detects E01 and yields identical chunk rows") {
    import graft.fixtures.FixtureBytes
    val data = Array.tabulate[Byte](12288)(i => ((i * 13 + 5) % 251).toByte) // 24 sectors
    val rawImg = Files.createTempFile("ev", ".dd")
    Files.write(rawImg, data)
    val e01Img = Files.createTempFile("ev", ".E01")
    Files.write(e01Img, FixtureBytes.e01(data, sectorsPerChunk = 4, bytesPerSector = 512))
    def rows(path: String) = spark.read.format("graft.sources.EvidenceSource")
      .option("path", path).option("chunkSize", "5000").option("overlap", "100")
      .load().orderBy("chunk_id").collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("start"),
        r.getAs[Long]("valid_length"), r.getAs[Array[Byte]]("data").toSeq))
    assert(rows(e01Img.toString).toSeq == rows(rawImg.toString).toSeq)
  }
  test("multi-segment E01 chain (.E01/.E02/.E03) reads identically to the raw media") {
    import graft.evidence.{EwfReader, EwfRef}
    import graft.fixtures.FixtureBytes
    val data = Array.tabulate[Byte](9 * 4096)(i => ((i * 17 + 11) % 251).toByte) // 9 chunks
    val dir = Files.createTempDirectory("ewfseg")
    val segs = FixtureBytes.e01Segments(data, sectorsPerChunk = 8, bytesPerSector = 512,
      compressEvery = 2, segments = 3)
    Seq("img.E01", "img.E02", "img.E03").zip(segs).foreach { case (n, bytes) =>
      Files.write(dir.resolve(n), bytes)
    }
    val first = dir.resolve("img.E01")
    assert(EwfReader.discoverSegments(first).map(_.getFileName.toString) ==
      Seq("img.E01", "img.E02", "img.E03"))
    val info = EwfReader.parse(first)
    assert(info.mediaSize == data.length.toLong && info.chunks.length == 9)
    assert(info.chunks.map(_.segment).distinct == Vector(0, 1, 2))
    val r = new graft.evidence.EwfEvidence(info)
    try {
      assert(r.readExactAt(0L, data.length).get.sameElements(data))
      // read crossing the segment boundary (chunk 2 -> 3 spans .E01/.E02)
      assert(r.readExactAt(3 * 4096L - 100, 200).get
        .sameElements(data.slice(3 * 4096 - 100, 3 * 4096 + 100)))
    } finally r.close()
    // a missing final segment fails loudly ('next' with no successor)
    Files.delete(dir.resolve("img.E03"))
    intercept[IllegalArgumentException] { EwfReader.parse(first) }
  }
}
