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

  /** Pure planning rule, used by both the Dataset path and tests. */
  def planLocal(totalLen: Long, chunkSize: Long, overlap: Long): Seq[ScanChunk] = {
    if (chunkSize <= 0 || totalLen <= 0) Seq.empty
    else {
      val n = (totalLen + chunkSize - 1) / chunkSize
      (0L until n).map { i =>
        val start = i * chunkSize
        val remaining = totalLen - start
        ScanChunk(
          id = i,
          start = start,
          length = math.min(remaining, chunkSize + overlap),
          validLength = math.min(remaining, chunkSize))
      }
    }
  }

  /** Distributed chunk plan as a Dataset — the scan relation. */
  def plan(spark: SparkSession, totalLen: Long, chunkSize: Long, overlap: Long): Dataset[ScanChunk] = {
    import spark.implicits._
    if (chunkSize <= 0 || totalLen <= 0) spark.emptyDataset[ScanChunk]
    else {
      val n = (totalLen + chunkSize - 1) / chunkSize
      // no more slices than chunks: an empty scan task would still write
      // an empty part file into every scan-derived stream
      val slices = math.min(n, spark.sparkContext.defaultParallelism.toLong).toInt
      spark.range(0, n, 1, slices).map { i =>
        val start = i * chunkSize
        val remaining = totalLen - start
        ScanChunk(i, start, math.min(remaining, chunkSize + overlap), math.min(remaining, chunkSize))
      }
    }
  }
}
