package graft

import graft.fixtures.FixtureBytes
import graft.sinks.InProcessChmodFileSystem
import java.nio.file.attribute.PosixFilePermissions
import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

/** The Carve run's sink pass: the layout it leaves on disk, how a failing
  * stream surfaces, and the max-files cap under different core counts.
  */
class SinkWriteSpec extends AnyFunSuite with BeforeAndAfterAll with Eventually {

  // a def: the max-files test stops sessions to change the core count
  private def spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sink-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = SparkSession.getDefaultSession.foreach(_.stop())

  private val streams = Seq("files", "artefacts_urls", "artefacts_emails", "artefacts_phones",
    "entropy_regions", "browser_history", "browser_cookies", "browser_downloads", "run_summary")

  /** The embedded default config with fixture-sized minimums. */
  private def config(chunkSize: Long): String = {
    val in = getClass.getResourceAsStream("/graft-default.yml")
    val yml = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val p = Files.createTempFile("graft-sink-cfg", ".yml")
    Files.write(p, yml.replaceAll("(?m)^(\\s*)min_size:.*$", "$1min_size: 0")
      .replaceAll("(?m)^chunk_size:.*$", s"chunk_size: $chunkSize").getBytes("UTF-8"))
    p.toString
  }

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    try in.readAllBytes() finally in.close()
  }

  /** One 4 KiB-aligned slot per sample; returns the image and each slot's offset. */
  private def image(samples: Seq[Array[Byte]]): (Path, Seq[Long]) = {
    val slots = samples.map(s => (s.length + 4095) / 4096 * 4096)
    val bytes = new Array[Byte](slots.sum)
    val offsets = slots.scanLeft(0L)(_ + _).init
    samples.zip(offsets).foreach { case (s, at) => System.arraycopy(s, 0, bytes, at.toInt, s.length) }
    val p = Files.createTempFile("graft-sink", ".dd")
    Files.write(p, bytes)
    (p, offsets)
  }

  /** Every format of the sink streams: carves, browser databases, string
    * artefacts and a high-entropy page.
    */
  private lazy val fixtureImage: Path = {
    val text = "visit https://sink.example.com/a mail sink@example.org call +1 202 555 0143"
      .getBytes("ISO-8859-1")
    val noise = new Array[Byte](8192)
    new scala.util.Random(7).nextBytes(noise)
    image(Seq(FixtureBytes.jpeg(), FixtureBytes.png(), FixtureBytes.pdf(),
      FixtureBytes.zipWithEntry("word/document.xml"), resource("chrome_history.sqlite"),
      resource("chrome_cookies.sqlite"), resource("firefox_downloads.sqlite"), text, noise))._1
  }

  private def tree(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toList finally s.close()
  }

  private def mode(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def assertLayout(out: Path, streamDirs: Seq[String], partitioned: Option[String]): Unit = {
    def parts(dir: Path): Seq[Path] =
      Files.list(dir).iterator().asScala.toList.filter(_.getFileName.toString.startsWith("part-"))
    streamDirs.foreach { s =>
      val dir = out.resolve(s)
      val leaves =
        if (partitioned.contains(s))
          Files.list(dir).iterator().asScala.toList.filter(Files.isDirectory(_))
        else Seq(dir)
      assert(leaves.nonEmpty, s"$s has no partition directories")
      leaves.foreach { leaf =>
        val ps = parts(leaf)
        assert(ps.size == 1, s"$leaf holds ${ps.size} part files")
        ps.foreach(p => assert(Files.exists(leaf.resolve(s".${p.getFileName}.crc")), s"$p has no .crc"))
      }
      tree(dir).foreach { p =>
        val want = if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"
        assert(mode(p) == want, s"$p has mode ${mode(p)}")
      }
    }
  }

  test("Carve's sink pass: one part per stream and per file type, .crc siblings, 0644/0755") {
    spark
    val parquetOut = Files.createTempDirectory("graft-sink-parquet")
    Carve.runJob(Array(fixtureImage.toString, parquetOut.toString, config(1 << 20)),
      Map("GRAFT_RUN_ID" -> "sinks"), stopSession = false)
    assertLayout(parquetOut, streams, partitioned = Some("files"))
    val types = Files.list(parquetOut.resolve("files")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(Set("file_type=jpeg", "file_type=png", "file_type=pdf", "file_type=docx",
      "file_type=sqlite").subsetOf(types), s"file types $types")
    Seq("artefacts_urls", "artefacts_emails", "artefacts_phones", "entropy_regions",
      "browser_history", "browser_cookies", "browser_downloads").foreach { s =>
      assert(spark.read.parquet(parquetOut.resolve(s).toString).count() > 0, s"$s is empty")
    }

    val jsonOut = Files.createTempDirectory("graft-sink-jsonl")
    Carve.runJob(Array(fixtureImage.toString, jsonOut.toString, config(1 << 20)),
      Map("GRAFT_RUN_ID" -> "sinks", "GRAFT_BACKEND" -> "jsonl"), stopSession = false)
    assertLayout(jsonOut, streams.updated(0, "carved_files"), partitioned = None)
    assert(spark.read.json(jsonOut.resolve("carved_files").toString).count() ==
      spark.read.parquet(parquetOut.resolve("files").toString).count())
  }

  test("in-process setPermission sets the mode bits chmod would") {
    val f = Files.createTempFile("graft-chmod", ".bin")
    val fs = new InProcessChmodFileSystem.Raw
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    Seq("640" -> "rw-r-----", "755" -> "rwxr-xr-x", "604" -> "rw----r--").foreach { case (octal, want) =>
      fs.setPermission(new org.apache.hadoop.fs.Path(f.toUri), new FsPermission(octal))
      assert(mode(f) == want, s"$octal set ${mode(f)}")
    }
  }

  test("a failing stream fails the run and leaves no job or sink thread running") {
    spark
    val out = Files.createTempDirectory("graft-sink-fail")
    // entropy_regions links into a regular file: no directory can be made
    // there, whatever the user's rights
    val blocker = Files.write(out.resolve("blocker"), Array[Byte](1))
    Files.createSymbolicLink(out.resolve("entropy_regions"), blocker.resolve("entropy_regions"))
    val e = intercept[Exception] {
      Carve.runJob(Array(fixtureImage.toString, out.toString, config(1 << 20)),
        Map("GRAFT_RUN_ID" -> "sinkfail"), stopSession = false)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.toString).toList
    assert(chain.exists(_.contains("entropy_regions")), s"not the entropy_regions failure: $chain")
    // job status reaches the tracker through the listener bus
    eventually(timeout(30.seconds)) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
        t.isAlive && t.getName.startsWith("graft-sink-")))
    }
  }

  test("CarveFleet writes its four streams through the sink pass, one files part per image") {
    spark
    val (a, _) = image(Seq(FixtureBytes.jpeg(), FixtureBytes.png(), FixtureBytes.gif()))
    val (b, _) = image(Seq(FixtureBytes.pdf(), FixtureBytes.jpeg()))
    val out = Files.createTempDirectory("graft-sink-fleet")
    CarveFleet.runJob(Array(s"$a,$b", out.toString, config(4096)), Map("GRAFT_RUN_ID" -> "fleet"),
      stopSession = false)
    Seq("files", "artefacts", "entropy_regions", "run_summary").foreach { s =>
      assert(Files.exists(out.resolve(s).resolve("_SUCCESS")), s"$s not committed")
    }
    val images = Seq(a, b).map(_.getFileName.toString)
    assertLayout(out, Seq("files"), partitioned = Some("files"))
    val carved = spark.read.parquet(out.resolve("files").toString)
      .groupBy("evidence_id").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(carved == Map(images(0) -> 3L, images(1) -> 2L), s"carved per image $carved")
    val summary = spark.read.parquet(out.resolve("run_summary").toString)
      .select("evidence_id", "files_carved").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary == carved, s"run summary $summary")
  }

  test("max_files keeps the lowest-offset carves at local[1] and local[4]") {
    val samples = Seq.fill(3)(Seq(FixtureBytes.jpeg(), FixtureBytes.png(), FixtureBytes.gif())).flatten
    val (img, offsets) = image(samples)
    val cfg = config(8192)
    def carvedAt(cpus: Int): (Set[(Long, String)], Set[String]) = {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.getDefaultSession.foreach(_.stop())
      val out = Files.createTempDirectory("graft-sink-cap")
      Carve.runJob(Array(img.toString, out.toString, cfg), Map(
        "SPARK_GRAFT_CPUS" -> cpus.toString, "GRAFT_MAX_FILES" -> "4",
        "GRAFT_RUN_ID" -> "cap"), stopSession = false)
      val s = SparkSession.active
      assert(s.sparkContext.defaultParallelism == cpus)
      val rows = s.read.parquet(out.resolve("files").toString)
        .select("global_start", "carved_path").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val payloads = tree(out.resolve("carved")).filter(Files.isRegularFile(_))
        .map(p => out.resolve("carved").relativize(p).toString).toSet
      s.stop()
      (rows, payloads)
    }
    val (one, onePayloads) = carvedAt(1)
    val (four, fourPayloads) = carvedAt(4)
    assert(one.map(_._1) == offsets.take(4).toSet, s"local[1] kept $one")
    assert(four == one, s"local[4] kept $four, local[1] kept $one")
    assert(onePayloads == one.map(_._2) && fourPayloads == four.map(_._2),
      s"payloads $onePayloads / $fourPayloads for carves $one")
  }

  test("Carve.runJob leaves no persisted dataset behind") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val out = Files.createTempDirectory("graft-sink-release")
    Carve.runJob(Array(fixtureImage.toString, out.toString, config(1 << 20)),
      Map("GRAFT_RUN_ID" -> "release"), stopSession = false)
    val left = SparkSession.active.sparkContext.getPersistentRDDs
    assert(left.isEmpty, s"persisted after the run: ${left.values.map(_.name).mkString(", ")}")
    assert(spark.read.parquet(out.resolve("browser_history").toString).count() > 0)
  }
}
