package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

/** Plans the evidence byte space as overlapping chunks
  * (reference semantics: src/chunk.rs:9-35 — chunk i starts at
  * i*chunkSize; length = min(chunkSize+overlap, total-start);
  * validLength = min(chunkSize, total-start)).
  *
  * Scale note: the plan itself is tiny (100 TB / 512 MiB = ~200k rows), so
  * it is generated distributed via `spark.range` — one row per chunk, no
  * driver-side materialization — and becomes the leaf relation of the scan
  * DAG, sliced over the default parallelism: the scan stage has one task
  * per chunk up to the core count, and the carve stage re-spreads its hits
  * over every core (CarvePipeline).
  */
object ChunkPlanner {

  /** Longest chunk read (chunk + overlap) one JVM byte array can hold:
    * HotSpot refuses arrays within a few words of Int.MaxValue.
    */
  val MaxChunkBytes: Long = Int.MaxValue - 8L

  /** Chunk count for the geometry — the one place it is validated, so a
    * chunk + overlap that no byte array can hold fails at planning
    * instead of wrapping `length.toInt` negative in the scan.
    */
  private def count(totalLen: Long, chunkSize: Long, overlap: Long): Long = {
    require(overlap >= 0 && chunkSize <= MaxChunkBytes - overlap,
      s"chunk size $chunkSize + overlap $overlap: overlap must be >= 0 and " +
        s"their sum fit one JVM byte array ($MaxChunkBytes bytes)")
    if (chunkSize <= 0 || totalLen <= 0) 0L else (totalLen + chunkSize - 1) / chunkSize
  }

  /** Chunk i of the plan. */
  private def chunk(i: Long, totalLen: Long, chunkSize: Long, overlap: Long): ScanChunk = {
    val start = i * chunkSize
    val remaining = totalLen - start
    ScanChunk(i, start, math.min(remaining, chunkSize + overlap), math.min(remaining, chunkSize))
  }

  /** Pure planning rule, used by the DSv2 source and tests. */
  def planLocal(totalLen: Long, chunkSize: Long, overlap: Long): Seq[ScanChunk] =
    (0L until count(totalLen, chunkSize, overlap)).map(chunk(_, totalLen, chunkSize, overlap))

  /** Distributed chunk plan as a Dataset — the scan relation. */
  def plan(spark: SparkSession, totalLen: Long, chunkSize: Long, overlap: Long): Dataset[ScanChunk] = {
    import spark.implicits._
    val n = count(totalLen, chunkSize, overlap)
    if (n == 0) spark.emptyDataset[ScanChunk]
    else {
      // no more slices than chunks: an empty scan task would still write
      // an empty part file into every scan-derived stream
      val slices = math.min(n, spark.sparkContext.defaultParallelism.toLong).toInt
      spark.range(0, n, 1, slices).map(i => chunk(i, totalLen, chunkSize, overlap))
    }
  }
}
