package graft.perfbench

import graft.Carve
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point; `run.py` builds the classpath and launches it.
  *
  * {{{
  * Main --workload carve_dense|query_mix --seed N --seconds S
  *      --trace 0|1 --work DIR --data DIR --pins FILE
  *      --browser-rows fixture.kind=rows,... [--write-pins FILE] [--prime 1]
  * }}}
  *
  * Prints `metric <name> <value> <unit>` lines, then one JSON line with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. With
  * `--prime 1`, `query_mix` only builds the persisted query indexes in
  * `java.io.tmpdir` and prints no result.
  */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, data: String, pins: Path, browserRows: Map[String, Map[String, Long]],
                        writePins: Option[Path])

  val Cores: Int = 4
  /** Image size, MiB: small enough for several samples per run. */
  val DenseMiB = 8
  /** Untimed carve runs of the run's image before the timed ones: the
    * first carves of a JVM are slower while the JIT compiles.
    */
  val WarmSamples = 2
  /** Timed carve runs per run, at least. */
  val MinSamples = 3
  /** Set-ups per run; the median is reported. */
  val SetupReps = 5

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val browser = req("browser-rows").split(",").filter(_.nonEmpty).toSeq.map { e =>
      val Array(key, n) = e.split("=")
      val Array(fixture, kind) = key.split("\\.")
      (fixture, kind, n.toLong)
    }.groupBy(_._1).map { case (f, xs) => f -> xs.map(x => x._2 -> x._3).toMap }
    val a = Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      Paths.get(req("work")).toAbsolutePath, req("data"), Paths.get(req("pins")), browser,
      kv.get("write-pins").map(Paths.get(_)))
    if (kv.get("prime").contains("1")) {
      require(a.workload == "query_mix", "--prime applies to query_mix only")
      primeQueryIndexes(a)
      SparkSession.getActiveSession.foreach(_.stop())
      return
    }
    val (attempted, failed, metrics) = a.workload match {
      case "carve_dense" => carveWorkload(a)
      case "query_mix" => queryWorkload(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    metrics.foreach(m => println(f"metric ${m.name} ${m.value}%.6f ${m.unit}"))
    val frac = if (attempted > 0) failed.toDouble / attempted else 1.0
    println(f"metric failed_frac $frac%.6f ratio ($failed of $attempted samples)")
    val body = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU seconds of every thread of the JVM so far. */
  def cpuSeconds(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def peakRssMiB(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def startSession(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Codegen, shuffle and parquet-reader warm-up on a tiny job. */
  private def warmUpJob(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(100000).toDF("i")
      .join(broadcast(spark.range(100).toDF("i")), "i")
      .groupBy((col("i") % 7).as("k")).agg(count(lit(1)), sum("i"))
      .orderBy("k").count()
  }

  /** Set up [[SetupReps]] times (once when traced), the same steps each
    * time: the workload's own step, a session start and a tiny warm-up
    * job. Keeps the last session; returns the median set-up seconds.
    */
  private def setup[T](a: Args)(once: => T): (Double, T, SparkSession) = {
    val times = ArrayBuffer.empty[Double]
    var last: Option[T] = None
    var spark: SparkSession = null
    (0 until (if (a.trace) 1 else SetupReps)).foreach { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = startSession(a)
      last = Some(once)
      warmUpJob(spark)
      times += secs(t0)
      System.err.println(f"[perfbench] set-up ${rep + 1}: ${times.last}%.3f s")
    }
    (median(times.toSeq), last.get, spark)
  }

  // ---- pins -------------------------------------------------------------

  private def readPins(a: Args): Map[String, String] =
    if (!Files.exists(a.pins)) Map.empty
    else new String(Files.readAllBytes(a.pins), UTF_8).split("\n").toSeq
      .map(_.split("\t")).collect { case Array(w, k, v) if w == a.workload => k -> v }.toMap

  private def writePins(a: Args, pins: Seq[(String, String)]): Unit = a.writePins.foreach { p =>
    val old = if (Files.exists(p)) new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq
      .filter(l => l.nonEmpty && !l.startsWith(a.workload + "\t")) else Seq.empty
    val lines = old ++ pins.map { case (k, v) => s"${a.workload}\t$k\t$v" }
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  // ---- carve_dense ------------------------------------------------------

  private def carveWorkload(a: Args): (Int, Int, Seq[Metric]) = {
    val images = a.work.resolve("images")
    val cfgPath = writeConfig(a.work)
    val env = Map("SPARK_GRAFT_CPUS" -> Cores.toString, "GRAFT_BACKEND" -> "parquet")
    val (setupS, image, spark) = setup(a)(EvidenceGen.obtain(images, a.seed, DenseMiB))
    (0 until WarmSamples).foreach { _ =>
      val warmOut = a.work.resolve("out/warm")
      Checks.deleteTree(warmOut)
      Carve.runJob(Array(image.path.toString, warmOut.toString, cfgPath), env, stopSession = false)
      Checks.deleteTree(warmOut)
    }
    val pins = readPins(a).map { case (k, v) => k -> v.toLong }
    var attempted = 0
    var failed = 0
    val times = ArrayBuffer.empty[Double]
    val ratios = ArrayBuffer.empty[Double]
    def checked(outDir: Path): Map[String, Long] = {
      attempted += 1
      val (fails, counts) =
        try Checks.carve(spark, outDir.toString, image, a.browserRows, pins)
        catch { case e: Exception => (Seq(s"check threw: $e"), Map.empty[String, Long]) }
      if (fails.nonEmpty) {
        failed += 1
        fails.take(10).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
      }
      counts
    }
    def sample(i: Int): Map[String, Long] = {
      val outDir = a.work.resolve(s"out/$i")
      Checks.deleteTree(outDir)
      val cpu0 = cpuSeconds()
      val t0 = System.nanoTime()
      val ok =
        try { Carve.runJob(Array(image.path.toString, outDir.toString, cfgPath), env, stopSession = false); true }
        catch { case e: Exception => System.err.println(s"[perfbench] carve threw: $e"); false }
      val dt = secs(t0)
      val cpu = cpuSeconds() - cpu0
      if (!ok) { attempted += 1; failed += 1; Map.empty }
      else {
        times += dt
        ratios += Checks.treeBytes(outDir).toDouble / image.length
        val c0 = System.nanoTime()
        val counts = checked(outDir)
        System.err.println(f"[perfbench] sample ${i + 1}: $dt%.3f s, cpu $cpu%.3f s (checks ${secs(c0)}%.3f s)")
        Checks.deleteTree(outDir)
        counts
      }
    }

    if (!a.trace) {
      val t0 = System.nanoTime()
      var i = 0
      var counts = Map.empty[String, Long]
      while (i < MinSamples || secs(t0) < a.seconds) { counts = sample(i); i += 1 }
      writePins(a, counts.toSeq.sorted.map { case (k, v) => k -> v.toString })
      val runS = median(times.toSeq)
      (attempted, failed, Seq(
        Metric("run_s", runS, "s"),
        Metric("evidence_mibps", image.mib / runS, "MiB/s"),
        // a pass of a carve workload is one carve run: one query
        Metric("query_geomean_s", runS, "s"),
        Metric("output_ratio", median(ratios.toSeq), "ratio"),
        Metric("setup_s", setupS, "s"),
        Metric("peak_rss_mib", peakRssMiB(), "MiB")))
    } else {
      // untraced reference samples, then one traced run of the same work
      (0 until 2).foreach(sample)
      val untraced = median(times.toSeq)
      val outDir = a.work.resolve("out/traced")
      Checks.deleteTree(outDir)
      val collector = Collector.register(spark)
      Trace.begin(s"${a.workload}-${a.seed}")
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val counts = Trace.span("run")(TracedCarve.run(spark, image.path.toString, cfgPath, outDir.toString))
      val wall = secs(t0)
      Trace.end()
      Collector.unregister(spark, collector)
      val spans = Trace.all
      Trace.writeJson(a.work.resolve(s"trace-${a.workload}-${a.seed}.json"), spans)
      val sinkMiB = (Checks.treeBytes(outDir) - Checks.treeBytes(outDir.resolve("carved"))) / 1048576.0
      val streams = checked(outDir)
      Checks.deleteTree(outDir)
      (attempted, failed, Layers.carve(spans, counts, collector, wall, startMs, untraced, sinkMiB, streams))
    }
  }

  /** The shipped default configuration with every `min_size` set to 0:
    * the fixtures are smaller than the default minimums.
    */
  private def writeConfig(work: Path): String = {
    val in = getClass.getResourceAsStream("/graft-default.yml")
    val yml = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val p = work.resolve("graft-bench.yml")
    Files.createDirectories(work)
    Files.write(p, yml.replaceAll("(?m)^(\\s*)min_size:.*$", "$1min_size: 0").getBytes(UTF_8))
    p.toString
  }

  // ---- query_mix --------------------------------------------------------

  private def checkTables(a: Args): Unit = QueryMix.Tables.foreach { t =>
    require(Files.exists(Paths.get(a.data, s"$t.parquet")), s"missing table $t.parquet under ${a.data}")
  }

  /** Build the persisted indexes of the lifecycle queries by running
    * each once, untimed and unchecked.
    */
  private def primeQueryIndexes(a: Args): Unit = {
    checkTables(a)
    val spark = startSession(a)
    val t0 = System.nanoTime()
    QueryMix.Lifecycles.foreach(q => QueryMix.run(spark, a.data, q, None))
    System.err.println(f"[perfbench] primed the lifecycle indexes in ${secs(t0)}%.3f s")
  }

  private def queryWorkload(a: Args): (Int, Int, Seq[Metric]) = {
    val dataBytes = Checks.treeBytes(Paths.get(a.data))
    // The queries keep their indexes and derived files in java.io.tmpdir,
    // a directory of this source version that persists across runs and
    // holds the lifecycle indexes built by `--prime`: timed passes probe
    // them warm.
    val (setupS, _, spark) = setup(a)(checkTables(a))
    val pins = readPins(a)
    var attempted = 0
    var failed = 0
    val observed = ArrayBuffer.empty[(String, String)]

    /** One pass in list order; returns per-query timings and the pass
      * wall. The order is fixed: the first queries of a JVM pay its JIT
      * warm-up, so a seeded order would move time between queries.
      */
    def pass(collector: Option[Collector]): (Seq[QueryMix.Timing], Double) = {
      observed.clear()
      val t0 = System.nanoTime()
      val ts = QueryMix.Queries.map { q =>
        attempted += 1
        val (t, hash) =
          try {
            val (t, hash) = QueryMix.run(spark, a.data, q, collector)
            (Some(t), hash)
          } catch { case e: Exception => System.err.println(s"[perfbench] $q threw: $e"); (None, "") }
        t match {
          case None => failed += 1
          case Some(t) =>
            observed += (s"$q.rows" -> t.rows.toString) += (s"$q.hash" -> hash)
            val bad = Seq(s"$q.rows" -> t.rows.toString, s"$q.hash" -> hash)
              .filter { case (k, v) => pins.get(k).exists(_ != v) }
            if (bad.nonEmpty) {
              failed += 1
              bad.foreach { case (k, v) => System.err.println(s"[perfbench] check failed: $k = $v, pinned ${pins(k)}") }
            }
        }
        t
      }
      (ts.flatten, secs(t0))
    }

    if (!a.trace) {
      val runs = ArrayBuffer.empty[(Seq[QueryMix.Timing], Double, Long)]
      val t0 = System.nanoTime()
      while (runs.isEmpty || secs(t0) < a.seconds) {
        val (ts, wall) = pass(None)
        runs += ((ts, wall, QueryMix.indexBytes()))
        System.err.println(f"[perfbench] pass ${runs.size}: $wall%.3f s")
      }
      writePins(a, observed.toSeq.sorted)
      val runS = median(runs.map(_._2).toSeq)
      (attempted, failed, Seq(
        Metric("run_s", runS, "s"),
        Metric("evidence_mibps", dataBytes / 1048576.0 / runS, "MiB/s"),
        Metric("query_geomean_s", median(runs.map(r => geomean(r._1.map(_.totalS))).toSeq), "s"),
        Metric("output_ratio", median(runs.map(_._3.toDouble / dataBytes).toSeq), "ratio"),
        Metric("setup_s", setupS, "s"),
        Metric("peak_rss_mib", peakRssMiB(), "MiB")))
    } else {
      // one traced pass: a second, untraced pass would double the run
      val collector = Collector.register(spark)
      Trace.begin(s"${a.workload}-${a.seed}")
      val (ts, wall) = Trace.span("run")(pass(Some(collector)))
      Trace.end()
      Collector.unregister(spark, collector)
      val spans = Trace.all
      Trace.writeJson(a.work.resolve(s"trace-${a.workload}-${a.seed}.json"), spans)
      (attempted, failed, Layers.queries(spans, ts, collector, wall))
    }
  }
}
