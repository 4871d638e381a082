package graft

import graft.carve.ConfigLoader
import graft.evidence.EvidenceOpen
import graft.pipeline.CarvePipeline
import graft.sinks.MetadataSinks
import graft.sinks.MetadataSinks.Stream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fleet carve run: every image of an intake in ONE Spark application
  * (see [[CarvePipeline.runMany]] — tasks from different images
  * interleave across the cluster instead of idling on a straggler).
  * Output tables carry an `evidence_id` column (the image file name);
  * carved payloads land under `outDir/carved/<evidence_id>/`; the run
  * summary has one row per image.
  *
  * Usage: runMain graft.CarveFleet <img1,img2,...> <outDir> [configYml]
  * Env:   SPARK_GRAFT_CPUS (default 4), GRAFT_RUN_ID (default "fleet")
  */
object CarveFleet {
  def main(args: Array[String]): Unit = runJob(args, sys.env)

  private[graft] def runJob(args: Array[String], env: Map[String, String],
                            stopSession: Boolean = true): Unit = {
    require(args.length >= 2, "usage: CarveFleet <img1,img2,...> <outDir> [configYml]")
    val images = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val outDir = args(1)
    val loaded = ConfigLoader.load(args.lift(2).map(java.nio.file.Paths.get(_)))
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runId = env.getOrElse("GRAFT_RUN_ID", "fleet")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val refs = images.map(p => new java.io.File(p).getName -> EvidenceOpen.ref(p))
      val fleet = CarvePipeline.runMany(spark, refs, loaded.config, runId,
        payloadDir = Some(s"$outDir/carved"))
      // files/ gets one part per image directory however the carve was
      // spread; the summary reads the carve's counters, so its frame is
      // built on its sink thread, after the carve is materialized
      MetadataSinks.write(spark, outDir, fleet.carvedFiles, Seq(
        Stream("files", "parquet", () => fleet.carvedFiles.repartition(col("evidence_id")),
          partitionBy = Seq("evidence_id")),
        Stream("artefacts", "parquet", () => fleet.artefacts, partitionBy = Seq("evidence_id")),
        Stream("entropy_regions", "parquet", () => fleet.entropyRegions,
          partitionBy = Seq("evidence_id")),
        Stream("run_summary", "parquet", () => fleet.summaries(spark).coalesce(1))))
      fleet.release()
    } finally if (stopSession) spark.stop()
  }
}
