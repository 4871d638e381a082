package graft.perfbench

import graft.carve.{ConfigLoader, EngineConfig}
import graft.perfbench.Main.Metric

/** Per-layer metrics of a traced run. Every workload reports the same
  * names; a layer the workload never calls reads 0.
  */
object Layers {
  private val MiB = 1048576.0

  /** Handler file types of the shipped configuration, in name order. */
  lazy val Formats: Seq[String] =
    EngineConfig.buildRegistry(ConfigLoader.loadDefault().config).values.map(_.fileType).toSeq.distinct.sorted

  private def sparkMetrics(c: Collector, wall: Double, prejobS: Double, engineS: Double): Seq[Metric] = {
    val busy = c.taskBusyMs.get / 1e3
    Seq(
      Metric("spark.jobs", c.jobs.get.toDouble, "count"),
      Metric("spark.tasks", c.tasks.get.toDouble, "count"),
      Metric("spark.task_busy_s", busy, "s"),
      Metric("spark.core_util", busy / (wall * Main.Cores), "ratio"),
      Metric("spark.gc_s", c.gcMs.get / 1e3, "s"),
      Metric("spark.shuffle_mib", c.shuffleBytes.get / MiB, "MiB"),
      Metric("spark.spill_mib", c.spillBytes.get / MiB, "MiB"),
      Metric("spark.prejob_s", prejobS, "s"),
      Metric("spark.engine_s", engineS, "s"))
  }

  private def traceMetrics(self: Map[String, Double], wall: Double, untraced: Double): Seq[Metric] = {
    val unattributed = self.collect { case (n, s) if n == "run" || n.startsWith("query.") => s }.sum
    Seq(
      Metric("trace.overhead", wall / untraced, "ratio"),
      Metric("trace.unattributed_s", unattributed, "s"),
      Metric("trace.layer_share", (wall - unattributed) / wall, "ratio"))
  }

  private def queryMetrics(ts: Seq[QueryMix.Timing]): Seq[Metric] = {
    val byName = ts.map(t => t.name -> t).toMap
    QueryMix.Queries.sorted.flatMap { q =>
      val t = byName.get(q)
      Seq(Metric(s"query.$q.s", t.map(_.totalS).getOrElse(0.0), "s"),
        Metric(s"query.$q.jobs", t.map(_.jobs.toDouble).getOrElse(0.0), "count"))
    }
  }

  /** Evidence, scan, carve, payload, SQLite and sink layers. */
  private def carveLayers(self: Map[String, Double], n: TracedCarve.Counts, sinkMiB: Double,
                          streams: Map[String, Long]): Seq[Metric] = {
    def s(name: String) = self.getOrElse(name, 0.0)
    val validate = Formats.map(f => f -> s(s"carve.$f.validate"))
    Seq(
      Metric("evidence.read_s", s("evidence.read"), "s"),
      Metric("evidence.read_mib", n.readBytes / MiB, "MiB"),
      Metric("core.plan_s", s("core.plan"), "s"),
      Metric("scan.signature_s", s("scan.signature"), "s"),
      Metric("scan.hits", n.hits.toDouble, "count"),
      Metric("scan.string_s", s("scan.string"), "s"),
      Metric("scan.spans", n.spans.toDouble, "count"),
      Metric("artefacts.extract_s", s("artefacts.extract"), "s"),
      Metric("artefacts.found", n.artefacts.toDouble, "count"),
      Metric("functions.entropy_s", s("functions.entropy"), "s"),
      Metric("carve.validate_s", validate.map(_._2).sum, "s")) ++
      validate.map { case (f, v) => Metric(s"carve.$f.validate_s", v, "s") } ++ Seq(
      Metric("carve.hits", n.carveHits.toDouble, "count"),
      Metric("carve.yield", if (n.carveHits == 0) 0.0 else n.carved.toDouble / n.carveHits, "ratio"),
      Metric("carve.errors", n.carveErrors.toDouble, "count"),
      Metric("pipeline.payload_write_s", s("pipeline.payload_write"), "s"),
      Metric("pipeline.payload_mib", n.payloadBytes / MiB, "MiB"),
      Metric("sqlite.extract_s", s("sqlite.extract"), "s"),
      Metric("sqlite.records", Seq("history", "cookies", "downloads")
        .map(k => streams.getOrElse(s"browser_$k", 0L)).sum.toDouble, "count"),
      Metric("sinks.write_s", s("sinks.write"), "s"),
      Metric("sinks.mib", sinkMiB, "MiB"))
  }

  def carve(spans: Seq[Trace.Span], n: TracedCarve.Counts, c: Collector, wall: Double, startMs: Long,
            untraced: Double, sinkMiB: Double, streams: Map[String, Long]): Seq[Metric] = {
    val self = Trace.selfSecondsByName(spans)
    val prejob = c.jobsSince(startMs)._2.map(f => math.max(0L, f - startMs) / 1e3).getOrElse(wall)
    carveLayers(self, n, sinkMiB, streams) ++
      sparkMetrics(c, wall, prejob, self.getOrElse("spark.job", 0.0)) ++ Seq(
      Metric("queries.build_s", 0.0, "s"),
      Metric("queries.action_s", c.sqlSeconds.sum, "s")) ++
      queryMetrics(Nil) ++ traceMetrics(self, wall, untraced)
  }

  /** `trace.overhead` here is the traced wall over the wall without the
    * waits for the collector's events, the one cost tracing adds to a pass.
    */
  def queries(spans: Seq[Trace.Span], ts: Seq[QueryMix.Timing], c: Collector, wall: Double): Seq[Metric] = {
    val self = Trace.selfSecondsByName(spans)
    carveLayers(Map.empty, TracedCarve.Counts(0, 0, 0, 0, 0, 0, 0, 0), 0.0, Map.empty) ++
      sparkMetrics(c, wall, ts.map(_.prejobS).sum, 0.0) ++ Seq(
      Metric("queries.build_s", self.getOrElse("queries.build", 0.0), "s"),
      Metric("queries.action_s", self.getOrElse("queries.action", 0.0), "s")) ++
      queryMetrics(ts) ++ traceMetrics(self, wall, wall - ts.map(_.drainS).sum)
  }
}
