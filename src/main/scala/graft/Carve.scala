package graft

import graft.carve.ConfigLoader
import graft.evidence.EvidenceOpen
import graft.pipeline.{CarvePipeline, Checkpoint, ProgressListener}
import graft.sinks.MetadataSinks.Stream
import graft.sinks.{MetadataSinks, RunInfo}
import graft.sqlite.SqliteArtefacts
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end carve run — the reference binary's main path, Spark-shaped:
  * load the engine config (YAML file or embedded default, sha256
  * config-hash provenance), open the evidence (raw `.dd` or EWF `.E01`,
  * auto-detected), run the scan→carve→extract DAG with live progress
  * reporting, pull browser history/cookies/downloads out of carved
  * SQLite databases, and write every metadata stream plus the one-row
  * run summary in the reference's documented layouts.
  *
  * Usage: runMain graft.Carve <image> <outDir> [configYml]
  * Env:   SPARK_GRAFT_CPUS (default 4), GRAFT_BACKEND (parquet|jsonl|csv),
  *        GRAFT_RUN_ID (default: derived from the image name + media size),
  *        and the reference binary's run toggles (src/cli.rs:40-171),
  *        env-mapped with the reference's flag-over-file precedence
  *        (config.rs:164-233 merge_cli):
  *        GRAFT_TYPES=jpeg,png,... (allow-list with zip/ole family
  *        expansion), GRAFT_DISABLE_ZIP=true, GRAFT_MAX_BYTES /
  *        GRAFT_MAX_FILES / GRAFT_MAX_CHUNKS / GRAFT_CHUNK_MIB /
  *        GRAFT_OVERLAP_KIB numeric overrides,
  *        GRAFT_RESUME_OFFSET (skip chunks before the offset),
  *        GRAFT_SCAN_STRINGS / GRAFT_SCAN_ENTROPY =false to disable the
  *        string-artefact / entropy stages,
  *        GRAFT_SCAN_URLS / GRAFT_SCAN_EMAILS / GRAFT_SCAN_PHONES
  *        =true|false per-artefact extraction (--scan-x / --no-scan-x),
  *        GRAFT_SCAN_UTF16=true, GRAFT_STRING_MIN_LEN,
  *        GRAFT_ENTROPY_WINDOW / GRAFT_ENTROPY_THRESHOLD (setting either
  *        implies the entropy stage on, as in merge_cli),
  *        GRAFT_SCAN_SQLITE_PAGES=true (page-level history recovery),
  *        GRAFT_DRY_RUN=true (scan + count, write nothing),
  *        GRAFT_VALIDATE_CARVED=true / GRAFT_REMOVE_INVALID=true
  *        (post-carve re-hash; optionally drop failures),
  *        GRAFT_EVIDENCE_SHA256=<hex> (fail the run unless the evidence
  *        hashes to the supplied digest — cli.rs:143-147),
  *        GRAFT_CHECKPOINT_PATH (write resume state when a cap stops the
  *        run early — pipeline/mod.rs:506-521), GRAFT_RESUME_FROM
  *        (resume from a checkpoint file; also becomes the default
  *        checkpoint path, as in main.rs:155-160).
  */
object Carve {
  def main(args: Array[String]): Unit = runJob(args, sys.env)

  /** The whole run, parameterized on the environment so tests can drive
    * the toggle surface; `stopSession = false` leaves a caller-owned
    * SparkSession running.
    */
  private[graft] def runJob(args: Array[String], env: Map[String, String],
                            stopSession: Boolean = true): Unit = {
    require(args.length >= 2, "usage: Carve <image> <outDir> [configYml]")
    val image = args(0)
    val outDir = args(1)
    val loaded = ConfigLoader.load(args.lift(2).map(java.nio.file.Paths.get(_)))
    val backend = env.getOrElse("GRAFT_BACKEND", "parquet")
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The reference binary's run toggles, env-mapped onto the config the
    // file/default already produced (CLI precedence: flag > file —
    // config.rs merge_cli).
    def boolEnv(key: String): Option[Boolean] = env.get(key).map(_.toBoolean)
    var cfg0 = loaded.config
    env.get("GRAFT_CHUNK_MIB").foreach(m =>
      cfg0 = cfg0.copy(chunkSize = m.toLong * 1024 * 1024))
    env.get("GRAFT_OVERLAP_KIB").foreach(k => cfg0 = cfg0.copy(overlap = k.toLong * 1024))
    env.get("GRAFT_MAX_BYTES").foreach(b => cfg0 = cfg0.copy(maxBytes = Some(b.toLong)))
    env.get("GRAFT_MAX_FILES").foreach(n => cfg0 = cfg0.copy(maxFiles = Some(n.toLong)))
    env.get("GRAFT_MAX_CHUNKS").foreach(n => cfg0 = cfg0.copy(maxChunks = Some(n.toLong)))
    env.get("GRAFT_STRING_MIN_LEN").foreach(n => cfg0 = cfg0.copy(stringMinLen = n.toInt))
    env.get("GRAFT_ENTROPY_WINDOW").foreach(w => cfg0 = cfg0.copy(entropyWindowSize = w.toInt))
    env.get("GRAFT_ENTROPY_THRESHOLD").foreach(t => cfg0 = cfg0.copy(entropyThreshold = t.toDouble))
    boolEnv("GRAFT_SCAN_UTF16").foreach(b => cfg0 = cfg0.copy(stringScanUtf16 = b))
    boolEnv("GRAFT_SCAN_URLS").foreach(b => cfg0 = cfg0.copy(enableUrlScan = b))
    boolEnv("GRAFT_SCAN_EMAILS").foreach(b => cfg0 = cfg0.copy(enableEmailScan = b))
    boolEnv("GRAFT_SCAN_PHONES").foreach(b => cfg0 = cfg0.copy(enablePhoneScan = b))
    boolEnv("GRAFT_SCAN_SQLITE_PAGES").foreach(b => cfg0 = cfg0.copy(sqlitePageRecovery = b))
    val (cfg, unknownTypes) = graft.carve.EngineConfig.filterFileTypes(cfg0,
      env.get("GRAFT_TYPES").map(_.split(",").toSeq),
      disableZip = env.get("GRAFT_DISABLE_ZIP").exists(_.toBoolean))
    unknownTypes.foreach(t => System.err.println(s"[carve] ignoring unknown type: $t"))
    // merge_cli: enabling any artefact kind implies the string stage on;
    // setting an entropy parameter implies the entropy stage on
    val enableStrings = env.get("GRAFT_SCAN_STRINGS").forall(_.toBoolean) ||
      Seq("GRAFT_SCAN_URLS", "GRAFT_SCAN_EMAILS", "GRAFT_SCAN_PHONES")
        .exists(k => boolEnv(k).contains(true))
    val enableEntropy = env.get("GRAFT_SCAN_ENTROPY").forall(_.toBoolean) ||
      Seq("GRAFT_ENTROPY_WINDOW", "GRAFT_ENTROPY_THRESHOLD").exists(env.contains)
    val dryRun = boolEnv("GRAFT_DRY_RUN").getOrElse(false)
    val validateCarved = boolEnv("GRAFT_VALIDATE_CARVED").getOrElse(false)
    val removeInvalid = boolEnv("GRAFT_REMOVE_INVALID").getOrElse(false)
    require(!removeInvalid || validateCarved,
      "GRAFT_REMOVE_INVALID requires GRAFT_VALIDATE_CARVED (cli.rs:170 requires)")

    val ref = EvidenceOpen.ref(image)
    val (evidenceLen, evidenceSha) = hashEvidence(ref)
    // --evidence-sha256: the run is only valid against the evidence the
    // investigator supplied a digest for — mismatch fails loudly
    env.get("GRAFT_EVIDENCE_SHA256").map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty).foreach { want =>
        require(want == evidenceSha,
          s"evidence sha256 mismatch: expected $want, computed $evidenceSha")
      }
    // --resume-from: checkpoint file beats the numeric offset; the
    // checkpoint path defaults to the resume path (main.rs:155-160)
    val resumeFrom = env.get("GRAFT_RESUME_FROM")
    val checkpointPath = env.get("GRAFT_CHECKPOINT_PATH").orElse(resumeFrom)
    val resumeOffset = resumeFrom match {
      case Some(p) =>
        Checkpoint.validate(Checkpoint.load(p), cfg.chunkSize, cfg.overlap, evidenceLen)
          .fold(err => throw new IllegalArgumentException(err), identity)
      case None => env.get("GRAFT_RESUME_OFFSET").map(_.toLong).getOrElse(0L)
    }
    val runId = env.getOrElse("GRAFT_RUN_ID",
      s"${new java.io.File(image).getName}-$evidenceLen")
    val listener = new ProgressListener(runId, evidenceLen)
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = CarvePipeline.run(spark, ref, cfg, runId,
        enableStrings = enableStrings, enableEntropy = enableEntropy,
        resumeOffset = resumeOffset,
        payloadDir = if (dryRun) None else Some(s"$outDir/carved"))
      import spark.implicits._

      // --validate-carved / --remove-invalid: re-hash every carved range
      // against the evidence; failures are reported, and optionally
      // dropped from the metadata + payload store. The collect is bounded
      // by the FAILURE count (corruption), not the carve count.
      var carvedOut = result.carvedFiles
      if (validateCarved) {
        val invalid = CarvePipeline.validateCarved(spark, ref, result.carvedFiles)
          .filter(!_._2).map(_._1).collect().toSet
        if (invalid.nonEmpty)
          System.err.println(s"[carve] ${invalid.size} carved files failed re-validation")
        if (removeInvalid && invalid.nonEmpty) {
          val bad = spark.sparkContext.broadcast(invalid)
          carvedOut = carvedOut.filter(c => !bad.value.contains(c.path))
          if (!dryRun) invalid.foreach { p =>
            java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(outDir, "carved", p))
          }
        }
      }

      if (dryRun) {
        // --dry-run: scan + count, write nothing (reference dry-run sink
        // counts events; main.rs skips output dirs). The summary line is
        // the run's only output.
        val s = CarvePipeline.summarize(spark, runId, result.copy(carvedFiles = carvedOut))
        System.err.println(
          s"[carve] dry-run run_summary bytes_scanned=${s.bytesScanned} " +
            s"chunks_processed=${s.chunksProcessed} hits_found=${s.hitsFound} " +
            s"files_carved=${s.filesCarved} artefacts_extracted=${s.artefactsExtracted}")
      } else {
        val info = RunInfo(runId, ToolVersion, loaded.configHash, image, evidenceSha)
        // browser streams and the run summary are json for either line
        // backend; each browser stream is one part file
        val fmt = if (backend == "parquet") "parquet" else "json"
        def browser(dir: String, df: => DataFrame) = Stream(dir, fmt, () =>
          df.repartition(1).sortWithinPartitions("source_file"))
        // one persisted browser pass (records only) feeds the three browser streams
        val browserDbs = result.hold(SqliteArtefacts.records(ref, carvedOut, runId, cfg.sqlitePageRecovery))
        MetadataSinks.write(spark, outDir, carvedOut,
          MetadataSinks.carveStreams(spark, backend, carvedOut, result.artefacts,
            result.entropyRegions, info) ++ Seq(
            browser("browser_history",
              MetadataSinks.browserHistoryDf(spark, browserDbs.flatMap(_.history), info)),
            browser("browser_cookies",
              MetadataSinks.browserCookiesDf(spark, browserDbs.flatMap(_.cookies), info)),
            browser("browser_downloads",
              MetadataSinks.browserDownloadsDf(spark, browserDbs.flatMap(_.downloads), info)),
            Stream("run_summary", fmt, () => MetadataSinks.runSummaryDf(spark,
              Seq(CarvePipeline.summarize(spark, runId, result.copy(carvedFiles = carvedOut))).toDS(),
              info))))
      }

      // Early-stop checkpoint (reference pipeline/mod.rs:506-521): when a
      // cap halted the run before the evidence end, persist next_offset so
      // a follow-up run resumes exactly where this one stopped. next_offset
      // = the first byte no processed chunk owns (start + valid_length of
      // the last processed chunk — the successor chunk's start).
      checkpointPath.foreach { cp =>
        val ends = result.chunks.map(c => c.start + c.validLength).collect() // small driver-planned dataset
        val nextOffset = math.min(evidenceLen, if (ends.isEmpty) resumeOffset else ends.max)
        val hitByteOrChunkCap =
          (cfg.maxBytes.isDefined || cfg.maxChunks.isDefined) && nextOffset < evidenceLen
        val hitFileCap = cfg.maxFiles.exists(_ <= carvedOut.count())
        if (hitByteOrChunkCap || hitFileCap) {
          Checkpoint.save(cp, graft.core.CheckpointState(1, runId, cfg.chunkSize,
            cfg.overlap, nextOffset, evidenceLen,
            java.time.Instant.now().toString))
          System.err.println(s"[carve] checkpoint saved to $cp (next_offset=$nextOffset)")
        }
      }
      result.release()
    } finally spark.sparkContext.removeSparkListener(listener)
    if (stopSession) spark.stop()
  }

  val ToolVersion = "0.4.0"

  /** Stream the evidence once on the driver for (length, sha256) —
    * the reference's compute_sha256 provenance pass.
    */
  private def hashEvidence(ref: graft.evidence.EvidenceRef): (Long, String) = {
    val r = ref.open()
    try {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val buf = new Array[Byte](1 << 20)
      r.foreachBlock(0L, Long.MaxValue, buf)(md.update(buf, 0, _))
      (r.length, graft.carve.Hex.lower(md.digest()))
    } finally r.close()
  }
}
