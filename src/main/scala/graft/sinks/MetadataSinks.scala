package graft.sinks

import graft.artefacts.Artefacts
import graft.core._
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** Metadata sinks with the reference's output layouts, column for column
  * (docs/metadata_parquet.md, metadata/parquet.rs:878-989): every stream
  * carries the five provenance columns (run_id, tool_version,
  * config_hash, evidence_path, evidence_sha256); carved files add
  * handler_id (zip-family collapse, parquet.rs:871-877) and the nullable
  * `magic_bytes` binary column (always null in the reference too,
  * parquet.rs:715); artefacts add source_kind/source_detail/certainty
  * (constant "string_span"/"strings_artefacts"/1.0,
  * parquet.rs:1590-1633); history adds the nullable row_id/table_name
  * pair. The reference's `files_<type>.parquet` category switch becomes
  * `partitionBy("file_type")` — same physical layout. Its single
  * metadata writer thread becomes [[MetadataSinks.write]]: every stream
  * of a run written concurrently from a fixed driver pool.
  */
final case class RunInfo(
    runId: String,
    toolVersion: String,
    configHash: String,
    evidencePath: String,
    evidenceSha256: String)

object MetadataSinks {

  private def provenance(info: RunInfo): Seq[Column] = Seq(
    col("runId").as("run_id"),
    lit(info.toolVersion).as("tool_version"),
    lit(info.configHash).as("config_hash"),
    lit(info.evidencePath).as("evidence_path"),
    lit(info.evidenceSha256).as("evidence_sha256"))

  /** Carved-file records + provenance, parquet-layout column names. */
  def carvedFilesDf(spark: SparkSession, carved: Dataset[CarvedFile], info: RunInfo): DataFrame =
    carved.toDF()
      .select(provenance(info) ++ Seq[Column](
        // zip-family members share the zip handler (parquet.rs:871-877)
        when(col("fileType").isin("docx", "xlsx", "pptx", "zip"), lit("zip"))
          .otherwise(col("fileType")).as("handler_id"),
        col("fileType").as("file_type"),
        col("path").as("carved_path"),
        col("globalStart").as("global_start"),
        col("globalEnd").as("global_end"),
        col("size"),
        col("md5"),
        col("sha256"),
        col("patternId").as("pattern_id"),
        lit(null).cast("binary").as("magic_bytes"),
        col("validated"),
        col("truncated"),
        when(size(col("errors")) > 0, array_join(col("errors"), "; ")).as("error")): _*)

  /** URL artefacts with scheme/host/port/path/query/fragment split
    * (reference parse_url_parts, metadata/parquet.rs:1635-1689).
    */
  def urlArtefactsDf(spark: SparkSession, artefacts: Dataset[StringArtefact], info: RunInfo): DataFrame = {
    val partsUdf = udf((u: String) => Artefacts.parseUrlParts(u))
    artefacts.toDF().filter(col("artefactKind") === "Url")
      .withColumn("p", partsUdf(col("content")))
      .select(provenance(info) ++ Seq[Column](
        col("globalStart").as("global_start"),
        col("globalEnd").as("global_end"),
        col("content").as("url"),
        col("p.scheme").as("scheme"),
        col("p.host").as("host"),
        col("p.port").cast("int").as("port"),
        col("p.path").as("path"),
        col("p.query").as("query"),
        col("p.fragment").as("fragment"),
        lit("string_span").as("source_kind"),
        lit("strings_artefacts").as("source_detail"),
        lit(1.0).as("certainty")): _*)
  }

  /** Email artefacts with local/domain split at the first '@'. */
  def emailArtefactsDf(spark: SparkSession, artefacts: Dataset[StringArtefact], info: RunInfo): DataFrame =
    artefacts.toDF().filter(col("artefactKind") === "Email")
      .select(provenance(info) ++ Seq[Column](
        col("globalStart").as("global_start"),
        col("globalEnd").as("global_end"),
        col("content").as("email"),
        substring_index(col("content"), "@", 1).as("local_part"),
        expr("substring(content, instr(content, '@') + 1)").as("domain"),
        lit("string_span").as("source_kind"),
        lit("strings_artefacts").as("source_detail"),
        lit(1.0).as("certainty")): _*)

  /** Phone artefacts. phone_e164/country stay null like the reference
    * (parquet.rs:1626-1627: no normalizer behind the columns yet).
    */
  def phoneArtefactsDf(spark: SparkSession, artefacts: Dataset[StringArtefact], info: RunInfo): DataFrame =
    artefacts.toDF().filter(col("artefactKind") === "Phone")
      .select(provenance(info) ++ Seq[Column](
        col("globalStart").as("global_start"),
        col("globalEnd").as("global_end"),
        col("content").as("phone_raw"),
        lit(null).cast("string").as("phone_e164"),
        lit(null).cast("string").as("country"),
        lit("string_span").as("source_kind"),
        lit("strings_artefacts").as("source_detail"),
        lit(1.0).as("certainty")): _*)

  /** Entropy regions + provenance. */
  def entropyRegionsDf(spark: SparkSession, entropy: Dataset[EntropyRegion], info: RunInfo): DataFrame =
    entropy.toDF()
      .select(provenance(info) ++ Seq[Column](
        col("globalStart").as("global_start"),
        col("globalEnd").as("global_end"),
        col("entropy"),
        col("windowSize").as("window_size")): _*)

  /** Browser history rows. `visit_source` carries the transition label
    * (the reference parser's visit_source analog); row_id/table_name are
    * emitted null exactly like the reference (parquet.rs:757-758).
    */
  def browserHistoryDf(spark: SparkSession, history: Dataset[BrowserHistoryRecord], info: RunInfo): DataFrame =
    history.toDF()
      .select(provenance(info) ++ Seq[Column](
        col("sourceFile").as("source_file"),
        col("browser"),
        col("profile"),
        col("url"),
        col("title"),
        col("visitTime").as("visit_time_utc"),
        col("transition").as("visit_source"),
        lit(null).cast("long").as("row_id"),
        lit(null).cast("string").as("table_name")): _*)

  def browserCookiesDf(spark: SparkSession, cookies: Dataset[BrowserCookieRecord], info: RunInfo): DataFrame =
    cookies.toDF()
      .select(provenance(info) ++ Seq[Column](
        col("sourceFile").as("source_file"),
        col("browser"),
        col("profile"),
        col("host"),
        col("name"),
        col("value"),
        col("path"),
        col("expiresUtc").as("expires_utc"),
        col("lastAccessUtc").as("last_access_utc"),
        col("creationUtc").as("creation_utc"),
        col("secure").as("is_secure"),
        col("httpOnly").as("is_http_only")): _*)

  def browserDownloadsDf(spark: SparkSession, downloads: Dataset[BrowserDownloadRecord], info: RunInfo): DataFrame =
    downloads.toDF()
      .select(provenance(info) ++ Seq[Column](
        col("sourceFile").as("source_file"),
        col("browser"),
        col("profile"),
        col("url"),
        col("targetPath").as("target_path"),
        col("startTime").as("start_time_utc"),
        col("endTime").as("end_time_utc"),
        col("totalBytes").as("total_bytes"),
        col("state")): _*)

  /** One-row run summary (docs/metadata_parquet.md "Run summary"). */
  def runSummaryDf(spark: SparkSession, summary: Dataset[RunSummary], info: RunInfo): DataFrame =
    summary.toDF()
      .select(provenance(info) ++ Seq[Column](
        col("bytesScanned").as("bytes_scanned"),
        col("chunksProcessed").as("chunks_processed"),
        col("hitsFound").as("hits_found"),
        col("filesCarved").as("files_carved"),
        col("stringSpans").as("string_spans"),
        col("artefactsExtracted").as("artefacts_extracted")): _*)

  /** One metadata stream: its directory under the output root, the
    * DataFrameWriter format, the columns it is partitioned into
    * directories by, and its frame. The frame is built on the stream's
    * sink thread, so any job it needs to plan (the run summary's
    * counters) runs concurrently with the other streams.
    */
  final case class Stream(dir: String, format: String, frame: () => DataFrame,
                          partitionBy: Seq[String] = Nil)

  /** The five scan/carve streams in `backend`'s layout. Parquet `files`
    * takes the reference's per-type category layout: one
    * `file_type=<type>` directory holding one part file per type. In
    * jsonl/csv it is one single-part `carved_files` table, like the
    * reference's line-oriented sinks. Both keep offset order within a
    * part. The artefact and entropy streams keep the scan's
    * partitioning.
    */
  def carveStreams(
      spark: SparkSession,
      backend: String, // parquet | jsonl | csv
      carved: Dataset[CarvedFile],
      artefacts: Dataset[StringArtefact],
      entropy: Dataset[EntropyRegion],
      info: RunInfo): Seq[Stream] = {
    val fmt = backend match {
      case "parquet" => "parquet"
      case "jsonl" => "json"
      case "csv" => "csv"
      case other => throw new IllegalArgumentException(s"unknown backend $other")
    }
    val files =
      if (fmt == "parquet")
        Stream("files", fmt, () => carvedFilesDf(spark, carved, info)
          .repartition(col("file_type")).sortWithinPartitions("file_type", "global_start"),
          partitionBy = Seq("file_type"))
      else
        Stream("carved_files", fmt, () => carvedFilesDf(spark, carved, info)
          .coalesce(1).sortWithinPartitions("global_start"))
    Seq(files,
      Stream("artefacts_urls", fmt, () => urlArtefactsDf(spark, artefacts, info)),
      Stream("artefacts_emails", fmt, () => emailArtefactsDf(spark, artefacts, info)),
      Stream("artefacts_phones", fmt, () => phoneArtefactsDf(spark, artefacts, info)),
      Stream("entropy_regions", fmt, () => entropyRegionsDf(spark, entropy, info)))
  }

  /** Write the five scan/carve streams to `outDir` in the chosen backend. */
  def writeAll(
      spark: SparkSession,
      outDir: String,
      backend: String, // parquet | jsonl | csv
      carved: Dataset[CarvedFile],
      artefacts: Dataset[StringArtefact],
      entropy: Dataset[EntropyRegion],
      info: RunInfo): Unit =
    write(spark, outDir, carved, carveStreams(spark, backend, carved, artefacts, entropy, info))

  /** Write `streams` under `outDir`, all at once: the metadata writer of
    * the reference is one thread beside the carve workers, and a sink
    * pass is mostly driver-side planning, commit and file work that
    * leaves the cores idle when the streams take turns.
    *
    * `carved`, the persisted carve every carve-derived stream reads, is
    * materialized first, so its payload writes and its
    * `graft_carve_errors_*` accumulator fire once, not once per stream.
    * Each stream then runs on a thread of a fixed pool; the call returns
    * when all are done. The first failure cancels the other streams' jobs
    * and is rethrown once every thread has finished.
    *
    * Every write goes through [[InProcessChmodFileSystem]], and each
    * overwrites its directory.
    */
  def write(spark: SparkSession, outDir: String, carved: Dataset[_], streams: Seq[Stream]): Unit = {
    carved.count()
    val sc = spark.sparkContext
    val tag = s"graft-sinks-${java.util.UUID.randomUUID()}"
    val cancelled = new AtomicBoolean(false)
    val threads = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(math.max(1, streams.size), { r: Runnable =>
      val t = new Thread(r, s"graft-sink-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      streams.foreach { s =>
        done.submit { () =>
          if (!cancelled.get()) {
            sc.addJobTag(tag)
            try writeStream(outDir, s) finally sc.removeJobTag(tag)
          }
        }
      }
      var first: Option[Throwable] = None
      streams.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException if first.isEmpty =>
            first = Some(e.getCause)
            cancelled.set(true)
            sc.cancelJobsWithTag(tag)
          case _: ExecutionException => // later failures: the first is rethrown
        }
      }
      first.foreach(e => throw e)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  private def writeStream(outDir: String, s: Stream): Unit = {
    var w = s.frame().write.mode("overwrite").format(s.format).options(InProcessChmodFileSystem.options)
    if (s.partitionBy.nonEmpty) w = w.partitionBy(s.partitionBy: _*)
    if (s.format == "csv") w = w.option("header", "true")
    w.save(s"$outDir/${s.dir}")
  }
}
