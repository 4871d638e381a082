package graft.perfbench

import graft.Carve
import graft.artefacts.Artefacts
import graft.carve.{CarveHit, ConfigLoader, EngineConfig, ExtractionContext, Hex, Naming}
import graft.core.{ChunkPlanner, EntropyRegion, StringArtefact, StringFlags, StringSpan}
import graft.evidence.EvidenceOpen
import graft.functions.Entropy
import graft.pipeline.{CarvePipeline, PayloadWriter}
import graft.scan.{SignatureScan, StringScan}
import graft.sinks.{MetadataSinks, RunInfo}
import graft.sqlite.SqliteArtefacts
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** The traced carve run: the same work as `graft.Carve` with the parquet
  * backend and payloads written, re-assembled from the program's public
  * layer entry points so that a span can sit around every call into a
  * layer. Spans inside tasks rely on local mode (tasks share the JVM).
  *
  * Span names are the per-layer metric names without the `_s` suffix;
  * `spark.job` wraps each stage action, so its self time is Spark's own
  * work around the layer calls: scheduling, task launch, row encoding
  * and cache reads (`spark.engine_s`).
  */
object TracedCarve {

  final case class Counts(
      readBytes: Long, hits: Long, spans: Long, artefacts: Long,
      carveHits: Long, carved: Long, carveErrors: Long, payloadBytes: Long)

  def run(spark: SparkSession, image: String, cfgPath: String, outDir: String): Counts = {
    import spark.implicits._
    val sc = spark.sparkContext
    val loaded = ConfigLoader.load(Some(Paths.get(cfgPath)))
    val cfg = loaded.config
    val ref = EvidenceOpen.ref(image)
    val runId = s"${Paths.get(image).getFileName}-traced"
    val readBytes = sc.longAccumulator("bench_read_bytes")
    val hitCount = sc.longAccumulator("bench_hits")
    val spanCount = sc.longAccumulator("bench_spans")
    val artefactCount = sc.longAccumulator("bench_artefacts")
    val carveHits = sc.longAccumulator("bench_carve_hits")
    val carveErrors = sc.longAccumulator("bench_carve_errors")
    val payloadBytes = sc.longAccumulator("bench_payload_bytes")
    val carvedCount = sc.longAccumulator("bench_carved")

    // the provenance pass Carve makes before any job
    val (len, sha) = Trace.span("evidence.read") {
      val r = ref.open()
      try {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val buf = new Array[Byte](1 << 20)
        var off = 0L
        var n = 1
        while (n > 0) {
          n = r.readAt(off, buf, 0, buf.length)
          if (n > 0) { md.update(buf, 0, n); off += n }
        }
        readBytes.add(off)
        (r.length, Hex.lower(md.digest()))
      } finally r.close()
    }

    val chunks = Trace.span("core.plan")(ChunkPlanner.plan(spark, len, cfg.chunkSize, cfg.overlap))
    val scan = SignatureScan(cfg)
    val stringScan = new StringScan(cfg.stringMinLen, cfg.stringMaxLen, cfg.stringScanUtf16)
    val (window, threshold) = (cfg.entropyWindowSize, cfg.entropyThreshold)
    val (doUrls, doEmails, doPhones) = (cfg.enableUrlScan, cfg.enableEmailScan, cfg.enablePhoneScan)

    // stage 1: read + signature/string/entropy scans, one span per call
    val scanned = Trace.span("spark.job") {
      val pid = Trace.current
      val ds = chunks.mapPartitions { iter =>
        val reader = ref.open()
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
        iter.map { chunk =>
          val want = chunk.length.toInt
          val data = new Array[Byte](want)
          val got = Trace.record("evidence.read", pid) {
            var got = 0
            var n = 1
            while (got < want && n > 0) {
              n = reader.readAt(chunk.start + got, data, got, want - got)
              got += n
            }
            got
          }
          readBytes.add(got.toLong)
          val hits = Trace.record("scan.signature", pid)(scan.normalize(chunk, scan.scanChunk(chunk, data, got)))
          hitCount.add(hits.size.toLong)
          val spans = Trace.record("scan.string", pid) {
            stringScan.scanChunk(chunk.id, java.util.Arrays.copyOf(data, got))
              .filter(_.localStart < chunk.validLength)
          }
          spanCount.add(spans.size.toLong)
          val artefacts = Trace.record("artefacts.extract", pid) {
            spans.flatMap { sp =>
              val bytes = java.util.Arrays.copyOfRange(data, sp.localStart.toInt, sp.localStart.toInt + sp.length)
              extract(runId, chunk.start, sp, bytes, doUrls, doEmails, doPhones)
            }
          }
          artefactCount.add(artefacts.size.toLong)
          val regions = Trace.record("functions.entropy", pid) {
            Entropy.detectRegions(chunk.start,
              java.util.Arrays.copyOf(data, math.min(got, chunk.validLength.toInt)), window, threshold)
              .map { case (s, e, m) => EntropyRegion(runId, s, e, m, window.toLong) }
          }
          CarvePipeline.ChunkScan(chunk.id, chunk.start, chunk.validLength, got.toLong, hits, artefacts, regions)
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      ds.count()
      ds
    }

    // stage 2: every hit through its handler, payload writes timed inside
    val registry = EngineConfig.buildRegistry(cfg)
    val patternIdOf = scan.patterns.zipWithIndex.map { case (p, i) => i -> (p.patternId, p.fileTypeId) }.toMap
    val payloadDir = s"$outDir/carved"
    val carved = Trace.span("spark.job") {
      val pid = Trace.current
      val ds = scanned.flatMap(_.hits).mapPartitions { iter =>
        val reader = ref.open()
        val writer = new PayloadWriter(payloadDir)
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
          writer.close(); reader.close()
        })
        var hitSpan = 0
        val sink = (path: String, bytes: Array[Byte], n: Int) => {
          Trace.record("pipeline.payload_write", hitSpan)(writer.sink(path, bytes, n))
          payloadBytes.add(n.toLong)
        }
        val ctx = ExtractionContext(runId, reader, Some(sink))
        iter.flatMap { h =>
          val (patId, ftId) = patternIdOf(h.fileTypeId)
          registry.get(ftId).flatMap { handler =>
            carveHits.add(1L)
            Trace.recordWith(s"carve.${handler.fileType}.validate", pid) { id =>
              hitSpan = id
              try {
                val result = handler.processHit(CarveHit(h.globalOffset, ftId, patId), ctx)
                // classified containers are renamed after streaming, as in the pipeline
                for (c <- result) {
                  val streamed = Naming.relPath(handler.fileType, handler.extension, c.globalStart)
                  if (c.path != streamed) {
                    writer.close()
                    val from = Paths.get(payloadDir, streamed)
                    val to = Paths.get(payloadDir, c.path)
                    if (Files.exists(from)) {
                      Files.createDirectories(to.getParent)
                      Files.move(from, to, StandardCopyOption.REPLACE_EXISTING)
                    }
                  }
                }
                if (result.isDefined) carvedCount.add(1L)
                result
              } catch { case _: Exception => carveErrors.add(1L); None }
            }
          }
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      ds.count()
      ds
    }

    val info = RunInfo(runId, Carve.ToolVersion, loaded.configHash, image, sha)
    val artefactRows = scanned.flatMap(_.artefacts)
    val regionRows = scanned.flatMap(_.regions)
    Trace.span("sinks.write") {
      MetadataSinks.writeAll(spark, outDir, "parquet", carved, artefactRows, regionRows, info)
    }
    Trace.span("sqlite.extract") {
      MetadataSinks.browserHistoryDf(spark,
        SqliteArtefacts.history(spark, ref, carved, runId, pageRecovery = cfg.sqlitePageRecovery), info)
        .write.mode("overwrite").parquet(s"$outDir/browser_history")
      MetadataSinks.browserCookiesDf(spark, SqliteArtefacts.cookies(spark, ref, carved, runId), info)
        .write.mode("overwrite").parquet(s"$outDir/browser_cookies")
      MetadataSinks.browserDownloadsDf(spark, SqliteArtefacts.downloads(spark, ref, carved, runId), info)
        .write.mode("overwrite").parquet(s"$outDir/browser_downloads")
    }
    val result = CarvePipeline.Result(chunks, scanned, carved, artefactRows, regionRows,
      org.apache.spark.sql.Observation(s"bench_$runId"), carveErrors)
    Trace.span("sinks.write") {
      MetadataSinks.runSummaryDf(spark, Seq(CarvePipeline.summarize(spark, runId, result)).toDS(), info)
        .write.mode("overwrite").parquet(s"$outDir/run_summary")
    }
    result.release()
    Counts(readBytes.value, hitCount.value, spanCount.value, artefactCount.value,
      carveHits.value, carvedCount.value, carveErrors.value, payloadBytes.value)
  }

  /** Span decode + artefact regexes with the span-hint and per-kind
    * gates of the pipeline's stage 1.
    */
  private def extract(runId: String, chunkStart: Long, sp: StringSpan, spanBytes: Array[Byte],
                      urls: Boolean, emails: Boolean, phones: Boolean): Seq[StringArtefact] = {
    val (text, encoding) =
      if ((sp.flags & StringFlags.Utf16Le) != 0) (StringScan.decodeUtf16Naive(spanBytes, littleEndian = true), "utf-16le")
      else if ((sp.flags & StringFlags.Utf16Be) != 0) (StringScan.decodeUtf16Naive(spanBytes, littleEndian = false), "utf-16be")
      else if ((sp.flags & StringFlags.Utf8) != 0) (new String(spanBytes, "UTF-8"), "utf-8")
      else (new String(spanBytes, "ISO-8859-1"), "ascii")
    val hintMask = StringFlags.UrlLike | StringFlags.EmailLike | StringFlags.PhoneLike
    val useHints = (sp.flags & hintMask) != 0
    def wanted(flag: Int): Boolean = !useHints || (sp.flags & flag) != 0
    Artefacts.extractAll(text).collect {
      case f if (f.kind == "Url" && urls && wanted(StringFlags.UrlLike)) ||
        (f.kind == "Email" && emails && wanted(StringFlags.EmailLike)) ||
        (f.kind == "Phone" && phones && wanted(StringFlags.PhoneLike)) =>
        val byteStart =
          if ((0 until f.start).forall(text.charAt(_) < 0x80)) f.start
          else text.substring(0, f.start).getBytes("UTF-8").length
        val start = chunkStart + sp.localStart + byteStart
        val len = f.content.getBytes("UTF-8").length
        StringArtefact(runId, f.kind, f.content, encoding, start, if (len == 0) start else start + len - 1)
    }
  }
}
