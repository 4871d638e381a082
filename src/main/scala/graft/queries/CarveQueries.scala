package graft.queries

import graft.carve.EngineConfig
import graft.evidence.StridedSamplesRef
import graft.fixtures.FixtureBytes
import graft.pipeline.CarvePipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The carving engine exposed as oracle-checkable queries: evidence is
  * synthesized DETERMINISTICALLY from the documents table (one format
  * sample per doc_id, planted at doc_id*8192), so DuckDB can predict the
  * full carve result arithmetically while Spark actually runs the
  * distributed scan→dedup→carve DAG over the byte space.
  *
  * Sample sizes are fixed by the generators in graft.fixtures:
  * jpeg=34, png=57, gif=14, pdf=43, sqlite=1024 bytes.
  */
object CarveQueries {
  import Registry.table

  private val SampleStride = 8192L

  private def carveResult(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nDocs = table(s, dir, "documents").agg(count(lit(1))).as[Long].head()
    // The evidence is synthesized AT READ TIME on the executors: the task
    // closure carries only the five sample byte arrays (~1 KiB), not the
    // nDocs*8 KiB byte space — the same job shape works at any corpus
    // size (a materialized array here shipped ~40 MB per task at sf0.1).
    val ref = StridedSamplesRef(
      IndexedSeq(FixtureBytes.jpeg(), FixtureBytes.png(), FixtureBytes.gif(),
        FixtureBytes.pdf(), FixtureBytes.sqlite()),
      SampleStride, nDocs)
    // pattern-set pruning to the five planted types (filter_file_types)
    val (cfg0, _) = EngineConfig.filterFileTypes(
      EngineConfig(chunkSize = 512 * 1024, overlap = 4096),
      Some(Seq("jpeg", "png", "gif", "pdf", "sqlite")), disableZip = false)
    val cfg = cfg0.copy(fileTypes = cfg0.fileTypes.map(_.copy(minSize = 0)))
    CarvePipeline.run(s, ref, cfg, "oracle-run",
      enableStrings = false, enableEntropy = false)
      .carvedFiles.toDF()
  }

  val defs: Map[String, QueryDef] = Map(
    // ---- The flagship "DataFrame scans + pattern matching over
    // Parquet" path: the evidence is materialized as the ingest job's
    // columnar chunk table (chunk_id, start, valid_length, data) and
    // scanned via scanChunkTable — a plain narrow map over table rows —
    // and must reproduce the pread scan's hits bit-for-bit, overlap
    // ownership included (each planted sample = exactly one header hit).
    "q94_columnar_scan" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val nDocs = table(s, dir, "documents").agg(count(lit(1))).as[Long].head()
        val ref = StridedSamplesRef(
          IndexedSeq(FixtureBytes.jpeg(), FixtureBytes.png(), FixtureBytes.gif(),
            FixtureBytes.pdf(), FixtureBytes.sqlite()),
          SampleStride, nDocs)
        val (cfg0, _) = EngineConfig.filterFileTypes(
          EngineConfig(chunkSize = 512 * 1024, overlap = 4096),
          Some(Seq("jpeg", "png", "gif", "pdf", "sqlite")), disableZip = false)
        val cfg = cfg0.copy(fileTypes = cfg0.fileTypes.map(_.copy(minSize = 0)))
        // ingest shape: one ranged read per chunk row → columnar table
        val chunkTable = graft.core.ChunkPlanner
          .plan(s, SampleStride * nDocs, cfg.chunkSize, cfg.overlap)
          .mapPartitions { it =>
            val r = ref.open()
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => r.close()))
            it.map { c =>
              val buf = new Array[Byte](c.length.toInt)
              val got = r.readFully(c.start, buf, 0, buf.length)
              (c.id, c.start, c.validLength,
                if (got == buf.length) buf else java.util.Arrays.copyOf(buf, got))
            }
          }.toDF("chunk_id", "start", "valid_length", "data")
        val scan = graft.scan.SignatureScan(cfg)
        val typeOf = scan.patterns.zipWithIndex
          .map { case (p, i) => i -> p.fileTypeId }.toMap
        val typeExpr = typeOf.toSeq.sortBy(_._1).foldLeft(lit(null): org.apache.spark.sql.Column) {
          case (acc, (i, t)) => when(col("h.fileTypeId") === i, lit(t)).otherwise(acc)
        }
        CarvePipeline.scanChunkTable(s, chunkTable, cfg, "columnar-run",
            enableStrings = false, enableEntropy = false)
          .select(explode(col("hits")).as("h"))
          .select(col("h.globalOffset").as("global_offset"), typeExpr.as("file_type"))
          .orderBy("global_offset")
      },
      Some("""SELECT doc_id*8192 AS global_offset,
             |CASE CAST(doc_id%5 AS INT) WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
             |  WHEN 2 THEN 'gif' WHEN 3 THEN 'pdf' ELSE 'sqlite' END AS file_type
             |FROM documents ORDER BY global_offset""".stripMargin)),

    // ---- Full scan→overlap-dedup→carve DAG (SURVEY §2.1-2.3, §3.1)
    "q40_carve_pipeline" -> QueryDef(
      (s, dir) => {
        carveResult(s, dir).select(
          col("globalStart").as("global_start"),
          col("fileType").as("file_type"),
          col("size"),
          col("validated"),
          col("truncated"))
          .orderBy("global_start")
      },
      Some("""SELECT doc_id*8192 AS global_start,
             |CASE CAST(doc_id%5 AS INT) WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
             |  WHEN 2 THEN 'gif' WHEN 3 THEN 'pdf' ELSE 'sqlite' END AS file_type,
             |CAST(CASE CAST(doc_id%5 AS INT) WHEN 0 THEN 34 WHEN 1 THEN 57
             |  WHEN 2 THEN 14 WHEN 3 THEN 43 ELSE 1024 END AS BIGINT) AS size,
             |true AS validated, false AS truncated
             |FROM documents ORDER BY global_start""".stripMargin)),

    // ---- Carved-output naming + hashing columns (metadata sink schema)
    "q41_carve_metadata" -> QueryDef(
      (s, dir) => {
        carveResult(s, dir)
          .filter(col("fileType") === "jpeg")
          .select(
            col("globalStart").as("global_start"),
            col("path"),
            col("extension"),
            col("md5"),
            col("sha256"))
          .orderBy("global_start")
      },
      // jpeg sample bytes are constant, so every jpeg carve hashes alike;
      // the hex literals below are md5/sha256 of the 34-byte jpeg sample.
      Some(s"""SELECT doc_id*8192 AS global_start,
              |'jpeg/jpeg_' || upper(printf('%012x', doc_id*8192)) || '.jpg' AS path,
              |'jpg' AS extension,
              |'${FixtureBytes.md5Hex(FixtureBytes.jpeg())}' AS md5,
              |'${FixtureBytes.sha256Hex(FixtureBytes.jpeg())}' AS sha256
              |FROM documents WHERE doc_id % 5 = 0 ORDER BY global_start""".stripMargin)))
}
