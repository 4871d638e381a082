package graft.pipeline

import graft.artefacts.Artefacts
import graft.carve._
import graft.core._
import graft.evidence.EvidenceRef
import graft.functions.Entropy
import graft.scan.{SignatureScan, StringScan}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The end-to-end carving DAG (reference pipeline: src/pipeline/mod.rs +
  * workers.rs, re-expressed as a Spark job — SURVEY §3.1):
  *
  * {{{
  * chunks (driver-planned, one row per chunk)
  *   .mapPartitions(read + scan signatures/strings/entropy)   // stage 1, narrow, fused
  *   hits.filter(localOffset < validLength)                   // exactly-once under overlap
  *   hits.repartition(cores, offset).mapPartitions(carve)     // stage 2, ranged evidence reads
  *   artefact/entropy/summary aggregations
  * }}}
  *
  * Scale design: the scan stage's output (hits/spans/regions) is tiny
  * relative to the evidence, so it is persisted (MEMORY_AND_DISK) and the
  * evidence is read exactly once; the carve stage re-opens the evidence
  * per task for random access (carved files cross chunk boundaries, so
  * carving CANNOT be served from the chunk's own bytes — SURVEY §7.4).
  * Stage 1 spreads the chunks over the default parallelism (the plan is a
  * `spark.range`), so an image of fewer chunks than cores scans on fewer
  * cores; stage 2 hash-spreads the hits over the default parallelism, so
  * even a one-chunk image carves on every core. The reference's worker
  * threads + bounded channels map to task scheduling; its single-writer
  * metadata thread maps to MetadataSinks.write, which writes every
  * stream concurrently.
  */
object CarvePipeline {

  /** Per-chunk scan result — hits already overlap-deduped + rebased. */
  final case class ChunkScan(
      chunkId: Long,
      chunkStart: Long,
      validLength: Long,
      bytesRead: Long,
      hits: Seq[NormalizedHit],
      artefacts: Seq[StringArtefact],
      regions: Seq[EntropyRegion])

  /** Stage 1 for one chunk — the kernel every scan entry point calls
    * ([[run]], [[scanChunkTable]], the DSv2 `mode=hits` readers): the
    * signature hits, string artefacts and entropy regions of
    * `data[0, got)`, each kept only where the chunk owns it (offset <
    * validLength). `data` is scanned in place and may be a reused
    * buffer with stale bytes past `got`; nothing in the result retains
    * it. A plain serializable value, so task closures capture it and
    * not [[CarvePipeline]].
    */
  final case class ChunkScanner(cfg: EngineConfig, runId: String,
      enableStrings: Boolean, enableEntropy: Boolean) {
    val signatures: SignatureScan = SignatureScan(cfg)
    private val strings = new StringScan(cfg.stringMinLen, cfg.stringMaxLen, cfg.stringScanUtf16)

    /** The signature half: overlap-deduped hits at global offsets. */
    def hits(chunk: ScanChunk, data: Array[Byte], got: Int): Seq[NormalizedHit] =
      signatures.normalize(chunk, signatures.scanChunk(chunk, data, got))

    def scan(chunk: ScanChunk, data: Array[Byte], got: Int): ChunkScan = {
      val artefacts =
        if (!enableStrings) Seq.empty[StringArtefact]
        else strings.scanChunk(chunk.id, data, got)
          .filter(_.localStart < chunk.validLength)
          .flatMap { sp =>
            val from = sp.localStart.toInt
            decodeAndExtract(runId, chunk.start, sp, java.util.Arrays.copyOfRange(data, from, from + sp.length),
              cfg.enableUrlScan, cfg.enableEmailScan, cfg.enablePhoneScan)
          }
      val regions =
        if (!enableEntropy) Seq.empty[EntropyRegion]
        else Entropy.toEntropyRegions(runId, cfg.entropyWindowSize,
          Entropy.detectRegions(chunk.start, data, cfg.entropyWindowSize, cfg.entropyThreshold,
            math.min(got.toLong, chunk.validLength).toInt))
      ChunkScan(chunk.id, chunk.start, chunk.validLength, got.toLong, hits(chunk, data, got), artefacts, regions)
    }
  }

  final case class Result(
      chunks: Dataset[ScanChunk],
      scanned: Dataset[ChunkScan],
      carvedFiles: Dataset[CarvedFile],
      artefacts: Dataset[StringArtefact],
      entropyRegions: Dataset[EntropyRegion],
      observation: org.apache.spark.sql.Observation,
      carveErrors: org.apache.spark.util.LongAccumulator) {
    private val held = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
    /** Persist a dataset built over this run's outputs until [[release]]. */
    def hold[T](ds: Dataset[T]): Dataset[T] = { held.add(ds.persist(StorageLevel.MEMORY_AND_DISK)); ds }
    /** Drop both persisted stages and what [[hold]] persisted once outputs are materialized. */
    def release(): Unit = { held.forEach(_.unpersist()); carvedFiles.unpersist(); scanned.unpersist() }
  }

  /** Close a task-held resource when the task finishes: mapPartitions
    * iterators have no end-of-iteration hook, and an unclosed
    * EvidenceReader (FileChannels) or PayloadWriter leaks one FD per
    * task until the executor hits its ulimit. Outside a task (driver
    * unit use) the close is a no-op — driver-side readers close
    * explicitly.
    */
  private def closeOnTaskEnd(close: => Unit): Unit =
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => close))

  def run(
      spark: SparkSession,
      evidenceRef: EvidenceRef,
      cfg: EngineConfig,
      runId: String,
      enableStrings: Boolean = true,
      enableEntropy: Boolean = true,
      resumeOffset: Long = 0L,
      endOffset: Option[Long] = None,
      payloadDir: Option[String] = None): Result = {
    import spark.implicits._

    val evidenceLen = {
      val r = evidenceRef.open()
      try r.length finally r.close()
    }

    var chunks = ChunkPlanner.plan(spark, evidenceLen, cfg.chunkSize, cfg.overlap)
    if (resumeOffset > 0) chunks = chunks.filter(_.start >= resumeOffset)
    // Region bound: scan only [resumeOffset, endOffset) — an exact window,
    // unlike maxBytes which is a read-byte budget.
    endOffset.foreach { end =>
      chunks = chunks.filter(_.start < end).map { c =>
        val room = end - c.start
        c.copy(length = math.min(c.length, room), validLength = math.min(c.validLength, room))
      }
    }
    // --max-bytes (reference pipeline/mod.rs:331,363-371): an ABSOLUTE cap.
    // resume_offset counts as already spent (hit_max_bytes = resume_offset
    // >= max_bytes) and every processed chunk charges its full read length
    // — overlap included — against the budget. The chunk layout is regular
    // (chunk i starts at i*chunkSize, reads chunkSize+overlap except the
    // tail), so the reference's sequential accounting has a closed form:
    // the j-th processed chunk starts with rs + j*(chunkSize+overlap)
    // already spent. Chunks past the budget drop; the straddler is clamped
    // to the remaining room, exactly like read_chunk_limited. When an
    // endOffset ALSO clamps chunks inside the window, the closed form
    // still charges their regular length — the budget is then
    // CONSERVATIVE (never over-reads, may under-read by the clamped
    // overlap), matching the reference's charge-full-reads behavior.
    cfg.maxBytes.foreach { mb =>
      val rs = resumeOffset
      val cs = cfg.chunkSize
      val ov = cfg.overlap
      val i0 = if (rs <= 0) 0L else (rs + cs - 1) / cs
      chunks =
        if (rs >= mb) spark.emptyDataset[ScanChunk]
        else chunks.flatMap { c =>
          val spentBefore = rs + (c.id - i0) * (cs + ov)
          val room = mb - spentBefore
          if (room <= 0L) None
          else Some(c.copy(length = math.min(c.length, room), validLength = math.min(c.validLength, room)))
        }
    }
    cfg.maxChunks.foreach(n => chunks = chunks.limit(math.min(n, Int.MaxValue).toInt))

    val scanner = ChunkScanner(cfg, runId, enableStrings, enableEntropy)

    // Progress: per-chunk byte counts land in a named accumulator that
    // ProgressListener folds into %, MiB/s, ETA events (SURVEY step 9).
    val bytesProgress = spark.sparkContext.longAccumulator(
      ProgressListener.accumulatorName(runId))

    // Stage 1: one evidence pass per chunk; signature + string + entropy
    // scans share the buffer (the reference's Arc<Vec<u8>> sharing).
    val scannedRaw = chunks.mapPartitions { iter =>
      val reader = evidenceRef.open()
      closeOnTaskEnd(reader.close())
      // one reusable read buffer per task thread: chunks are up to 512 MiB,
      // so per-chunk allocation would churn the old-gen at cluster scale.
      // The scanner reads only data[0, got) and retains none of it.
      var data = Array.emptyByteArray
      iter.map { chunk =>
        val want = chunk.length.toInt
        if (data.length < want) data = new Array[Byte](want)
        val got = reader.readFully(chunk.start, data, 0, want)
        bytesProgress.add(got.toLong)
        scanner.scan(chunk, data, got)
      }
    }

    // Run counters as streaming-safe observed metrics (reference
    // AtomicU64 counters, pipeline/mod.rs:256-264): available via
    // `result.observation.get` after any action over the scan output.
    // The OBSERVED dataset is the one persisted and handed out as
    // `Result.scanned`, so `scanned.unpersist()` actually releases the
    // cache (unpersisting a wrapper over the persisted plan is a no-op
    // in Spark's CacheManager — the bug this ordering fixes).
    val obs = org.apache.spark.sql.Observation(s"graft_scan_$runId")
    val scanned = scannedRaw.observe(obs,
        org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("bytesRead")).as("bytes_scanned"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("chunks_processed"),
        org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.col("hits"))).as("hits_found"),
        org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.col("artefacts"))).as("artefacts_extracted"))
      .as[ChunkScan]
      .persist(StorageLevel.MEMORY_AND_DISK)

    val registry = EngineConfig.buildRegistry(cfg)
    val patternIdOf: Map[Int, (String, String)] =
      scanner.signatures.patterns.zipWithIndex.map { case (p, i) => i -> (p.patternId, p.fileTypeId) }.toMap

    // Stage 2: carve — ranged evidence reads per hit, independent of the
    // chunk partitioning (files larger than a chunk carve correctly).
    // Handler failures are counted (reference carve_errors AtomicU64,
    // pipeline/mod.rs:256-264) rather than silently dropped; an
    // accumulator is Spark's counterpart of that shared counter.
    val carveErrors = spark.sparkContext.longAccumulator(s"graft_carve_errors_$runId")
    // The hits are spread over every core whatever the chunk count (the
    // reference feeds num_cpus carve workers from one hit channel). Hash
    // on the offset, not round-robin: hits at one offset may name the same
    // payload path, so they stay in one task. Offset order within a task
    // keeps its ranged reads moving forward through the evidence.
    val hitRows = scanned.flatMap(_.hits)
      .repartition(spark.sparkContext.defaultParallelism, $"globalOffset")
      .sortWithinPartitions($"globalOffset")
    // a function value, not a local def: a lifted local method would make
    // the task closures capture this (non-serializable) object
    val carveHits: Option[String] => Iterator[NormalizedHit] => Iterator[(NormalizedHit, CarvedFile)] =
      payloads => iter => {
        val reader = evidenceRef.open()
        // Optional payload store: carved bytes land at payloads/relPath.
        // Deterministic {type}_{offset:012X} names make task retries and
        // speculative attempts idempotent (same bytes, same path).
        val writer = payloads.map(new PayloadWriter(_))
        closeOnTaskEnd { writer.foreach(_.close()); reader.close() }
        val ctx = ExtractionContext(runId, reader, writer.map(w => w.sink _))
        iter.flatMap { h =>
          val (patId, ftId) = patternIdOf(h.fileTypeId)
          registry.get(ftId).flatMap { handler =>
            // each hit streams a fresh payload file; the file of a hit that
            // is dropped or fails is deleted, so every payload has a row
            writer.foreach(_.close())
            val result =
              try handler.processHit(CarveHit(h.globalOffset, ftId, patId), ctx)
              catch { case _: Exception => carveErrors.add(1L); None }
            if (result.isEmpty) writer.foreach(_.discard())
            result.map(h -> _)
          }
        }
      }
    // persist: the carve table feeds multiple actions (output write,
    // summaries, caller counts) — re-running it would double-fire the
    // carveErrors accumulator and redo payload writes. Rows are
    // metadata only (no payload bytes), so the cache is small.
    val carved = (cfg.maxFiles match {
      case None => hitRows.mapPartitions(carveHits(payloadDir)(_).map(_._2))
      case Some(n) =>
        // --max-files keeps the n lowest-offset carves, the reference's
        // offset order, on any partitioning: carve without payloads,
        // choose, then carve the chosen hits again with their payloads.
        val chosen = hitRows.mapPartitions(carveHits(None))
          .orderBy($"_2.globalStart", $"_2.path", $"_1.patternId").limit(math.min(n, Int.MaxValue).toInt)
        if (payloadDir.isEmpty) chosen.map(_._2)
        else chosen.map(_._1).mapPartitions(carveHits(payloadDir)(_).map(_._2))
    }).persist(StorageLevel.MEMORY_AND_DISK)

    val artefactRows = scanned.flatMap(_.artefacts)
    val regionRows = scanned.flatMap(_.regions)

    Result(chunks, scanned, carved, artefactRows, regionRows, obs, carveErrors)
  }

  /** Per-fleet result: the per-image [[Result]]s plus the unioned,
    * `evidence_id`-tagged output tables. `release()` drops every image's
    * persisted scan dataset once the outputs are written.
    */
  final case class FleetResult(
      perImage: Map[String, Result],
      carvedFiles: org.apache.spark.sql.DataFrame,
      artefacts: org.apache.spark.sql.DataFrame,
      entropyRegions: org.apache.spark.sql.DataFrame) {
    def release(): Unit = perImage.values.foreach(_.release())

    /** One-row-per-image run summary computed in TWO jobs total — a
      * [[summarize]] call per image would run N sequential driver jobs,
      * the fleet-size bottleneck at a 1000-image intake. The scan
      * counters aggregate over the tagged union of the (persisted)
      * per-image scan datasets; carve counts come from one groupBy over
      * the unioned carve table; carve-error counts read each image's
      * accumulator (driver-side values, no job).
      */
    def summaries(spark: SparkSession): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      // materialize the (persisted) carve table FIRST so the error
      // accumulators are populated before the driver snapshots them —
      // reading them at plan-construction time reported 0 whenever the
      // carve had not been acted on yet
      carvedFiles.count()
      val scanAgg = perImage.toSeq.map { case (id, r) =>
        r.scanned.toDF().withColumn("evidence_id", lit(id))
      }.reduce(_ unionByName _)
        .groupBy("evidence_id")
        .agg(sum(col("bytesRead")).as("bytes_scanned"),
          count(lit(1)).as("chunks_processed"),
          sum(size(col("hits"))).cast("long").as("hits_found"),
          sum(size(col("artefacts"))).cast("long").as("artefacts_extracted"))
      val carveCounts = carvedFiles.groupBy("evidence_id")
        .agg(count(lit(1)).as("files_carved"))
      val errorRows = perImage.toSeq.map { case (id, r) => (id, r.carveErrors.value) }
      import spark.implicits._
      val errors = errorRows.toDF("evidence_id", "errors")
      // spine = EVERY image id: one whose scan produced zero chunks must
      // still appear (all-zero), not silently vanish from the report
      val spine = perImage.keys.toSeq.toDF("evidence_id")
      spine.join(scanAgg, Seq("evidence_id"), "left")
        .join(carveCounts, Seq("evidence_id"), "left")
        .join(errors, Seq("evidence_id"), "left")
        .select(col("evidence_id"),
          coalesce(col("bytes_scanned"), lit(0L)).as("bytes_scanned"),
          coalesce(col("chunks_processed"), lit(0L)).as("chunks_processed"),
          coalesce(col("hits_found"), lit(0L)).as("hits_found"),
          coalesce(col("files_carved"), lit(0L)).as("files_carved"),
          coalesce(col("artefacts_extracted"), lit(0L)).as("string_spans"),
          coalesce(col("artefacts_extracted"), lit(0L)).as("artefacts_extracted"),
          coalesce(col("errors"), lit(0L)).as("errors"))
    }
  }

  /** Carve a FLEET of evidence images in one Spark job — the capability
    * the one-process-per-image reference binary cannot express. Each
    * image contributes an independent [[run]] DAG (nothing executes
    * until an action), and the unioned outputs carry an `evidence_id`
    * column, so a lab's whole intake carves as one application whose
    * tasks from different images interleave across the cluster: a
    * straggler image no longer idles the rest of the fleet the way N
    * sequential single-image runs would.
    *
    * Per-image semantics are exactly [[run]]'s: `cfg.maxBytes` /
    * `maxFiles` budgets, resume offsets, and run counters apply PER
    * IMAGE (each gets runId `"$runId:$imageId"`, keeping accumulator and
    * observation names distinct); carved payloads land under
    * `payloadDir/<imageId>/`.
    */
  def runMany(
      spark: SparkSession,
      images: Seq[(String, EvidenceRef)],
      cfg: EngineConfig,
      runId: String,
      enableStrings: Boolean = true,
      enableEntropy: Boolean = true,
      payloadDir: Option[String] = None): FleetResult = {
    require(images.nonEmpty, "empty image fleet")
    require(images.map(_._1).distinct.size == images.size,
      s"duplicate evidence ids in ${images.map(_._1)}")
    val results = images.map { case (id, ref) =>
      id -> run(spark, ref, cfg, s"$runId:$id",
        enableStrings = enableStrings, enableEntropy = enableEntropy,
        payloadDir = payloadDir.map(d =>
          s"$d/${graft.carve.Naming.sanitizeComponent(id)}"))
    }
    def tagged(f: Result => org.apache.spark.sql.Dataset[_]) =
      results.map { case (id, r) =>
        f(r).toDF.withColumn("evidence_id", org.apache.spark.sql.functions.lit(id))
      }.reduce(_ unionByName _)
    FleetResult(results.toMap, tagged(_.carvedFiles), tagged(_.artefacts),
      tagged(_.entropyRegions))
  }

  /** Span decode + artefact regex pass (reference strings/mod.rs:124-180,
    * decode :232-259): span hints AND the per-kind config toggles
    * (ArtefactScanConfig, reference pipeline/mod.rs:310-314) gate which
    * extractors run.
    */
  private[pipeline] def decodeAndExtract(
      runId: String,
      chunkStart: Long,
      sp: StringSpan,
      spanBytes: Array[Byte],
      urls: Boolean = true,
      emails: Boolean = true,
      phones: Boolean = true): Seq[StringArtefact] = {
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
        // the reference's mat.start() is a UTF-8 BYTE index into the
        // DECODED text (Rust regex over &str), not a char index — for a
        // decoded span with multibyte chars before the match the two
        // differ, so convert; for pure-ASCII prefixes (the common case)
        // they are equal and the cheap path avoids the re-encode
        val byteStart =
          if ((0 until f.start).forall(text.charAt(_) < 0x80)) f.start
          else text.substring(0, f.start).getBytes("UTF-8").length
        val start = chunkStart + sp.localStart + byteStart
        val len = f.content.getBytes("UTF-8").length
        StringArtefact(runId, f.kind, f.content, encoding,
          start, if (len == 0) start else start + len - 1)
    }
  }

  /** "DataFrame scans + pattern matching over Parquet": stage 1 over an
    * ingested evidence-chunk table (graft.Ingest / the DSv2 source)
    * instead of raw reads — the same [[ChunkScanner]] as [[run]], as a
    * plain narrow map over a columnar table with pruning and data
    * locality, while the carve stage keeps using `evidenceRef` for
    * cross-chunk random access (SURVEY §7.4 two-level evidence access).
    *
    * `chunkTable` needs columns (chunk_id, start, valid_length, data).
    */
  def scanChunkTable(
      spark: SparkSession,
      chunkTable: org.apache.spark.sql.DataFrame,
      cfg: EngineConfig,
      runId: String,
      enableStrings: Boolean = true,
      enableEntropy: Boolean = true): Dataset[ChunkScan] = {
    import spark.implicits._
    val scanner = ChunkScanner(cfg, runId, enableStrings, enableEntropy)
    chunkTable.select("chunk_id", "start", "valid_length", "data")
      .as[(Long, Long, Long, Array[Byte])]
      .map { case (chunkId, start, validLength, data) =>
        scanner.scan(ScanChunk(chunkId, start, data.length.toLong, validLength), data, data.length)
      }
  }

  /** Ops parity: re-hash each carved byte range against the evidence
    * (the reference's --validate-carved). Returns (path, stillValid).
    */
  def validateCarved(
      spark: SparkSession,
      evidenceRef: EvidenceRef,
      carved: Dataset[CarvedFile]): Dataset[(String, Boolean)] = {
    import spark.implicits._
    carved.mapPartitions { iter =>
      val reader = evidenceRef.open()
      closeOnTaskEnd(reader.close())
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val buf = new Array[Byte](Scan.BufSize)
      iter.map { c =>
        val end = c.globalStart + c.size
        val reached = reader.foreachBlock(c.globalStart, end, buf)(md.update(buf, 0, _))
        // digest() also resets md for the next row
        val sha256 = Hex.lower(md.digest())
        (c.path, reached == end && sha256 == c.sha256)
      }
    }
  }

  /** Run counters (reference RunSummary, src/metadata/mod.rs:13-22). */
  def summarize(spark: SparkSession, runId: String, r: Result): RunSummary = {
    import spark.implicits._
    // a grouping-free SQL aggregate, not Dataset.reduce: a legitimately
    // empty scan (resume past maxBytes, zero-length image) must yield an
    // all-zero summary rather than UnsupportedOperationException — and
    // the action must stay on the SQL path so the scan Observation's
    // CollectMetrics fires (an RDD-level fold would not complete it)
    val aggRow = {
      import org.apache.spark.sql.functions._
      r.scanned.toDF().agg(
        coalesce(sum(col("bytesRead")), lit(0L)).as("b"),
        count(lit(1)).as("c"),
        coalesce(sum(size(col("hits"))).cast("long"), lit(0L)).as("h"),
        coalesce(sum(size(col("artefacts"))).cast("long"), lit(0L)).as("a")).head()
    }
    val agg = (aggRow.getLong(0), aggRow.getLong(1), aggRow.getLong(2), aggRow.getLong(3))
    RunSummary(runId, agg._1, agg._2, agg._3, r.carvedFiles.count(),
      stringSpans = agg._4, artefactsExtracted = agg._4,
      // populated by the carvedFiles.count() action above (reference
      // reads its counters the same way — after the run drains)
      errorCount = r.carveErrors.value)
  }
}
