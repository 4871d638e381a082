package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Output checks. Each returns the failures it found (empty = correct). */
object Checks {

  /** The metadata streams a parquet carve run writes. */
  val Streams: Seq[String] = Seq("files", "artefacts_urls", "artefacts_emails", "artefacts_phones",
    "entropy_regions", "browser_history", "browser_cookies", "browser_downloads", "run_summary")

  /** Row counts from the parquet footers: no Spark job. */
  def streamCounts(outDir: String): Map[String, Long] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Streams.map { s =>
      val walk = Files.walk(Paths.get(outDir, s))
      val parts = try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList finally walk.close()
      s -> parts.map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }.toMap
  }

  /** Every planted file carved at its offset with its exact size and
    * sha256 (the pipeline suite's golden rule), its payload on disk with
    * that size; browser row counts equal the planted fixtures' rows
    * (`browserRows`: fixture name → stream → rows per copy); every stream
    * count equals its pin, when pins exist.
    */
  def carve(spark: SparkSession, outDir: String, image: EvidenceGen.Image,
            browserRows: Map[String, Map[String, Long]],
            pins: Map[String, Long]): (Seq[String], Map[String, Long]) = {
    val rows = spark.read.parquet(s"$outDir/files")
      .select("global_start", "size", "sha256", "carved_path").collect()
    val byStart = rows.map(r => r.getLong(0) -> r).toMap
    val fails = Seq.newBuilder[String]
    image.planted.foreach { p =>
      byStart.get(p.offset) match {
        case None => fails += s"${p.name} at ${p.offset}: not carved"
        case Some(r) =>
          if (r.getLong(1) != p.size) fails += s"${p.name} at ${p.offset}: size ${r.getLong(1)} != ${p.size}"
          else if (r.getString(2) != p.sha256) fails += s"${p.name} at ${p.offset}: sha256 differs"
          else {
            val payload = Paths.get(outDir, "carved", r.getString(3))
            if (!Files.isRegularFile(payload) || Files.size(payload) != p.size)
              fails += s"${p.name} at ${p.offset}: payload ${r.getString(3)} missing or wrong size"
          }
      }
    }
    val counts = streamCounts(outDir)
    val copies = image.planted.groupBy(_.name).map { case (n, ps) => n -> ps.size.toLong }
    Seq("history", "cookies", "downloads").foreach { kind =>
      val want = browserRows.toSeq.map { case (fixture, per) =>
        copies.getOrElse(fixture, 0L) * per.getOrElse(kind, 0L)
      }.sum
      val got = counts(s"browser_$kind")
      if (got != want) fails += s"browser_$kind: $got rows, planted fixtures hold $want"
    }
    pins.foreach { case (stream, want) =>
      counts.get(stream).filter(_ != want).foreach(got => fails += s"$stream: $got rows, pinned $want")
    }
    (fails.result(), counts)
  }

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
