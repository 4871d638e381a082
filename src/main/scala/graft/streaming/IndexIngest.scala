package graft.streaming

import graft.llm.{Dedup, Retrieval}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus ingestion against the PERSISTED indexes — the
  * incremental-crawl loop as one `foreachBatch` pipeline: each arriving
  * micro-batch is probed against the on-disk dedup index
  * ([[graft.llm.Dedup.dedupAgainstIndex]] — zero reference-corpus
  * passes), content already known is dropped, and the survivors' keys
  * fold into the dedup index (idempotent anti-join append) plus,
  * optionally, their postings into the BM25 index
  * ([[graft.llm.Retrieval.appendToIndex]]) and their embeddings into
  * the IVF-PQ vector index ([[graft.llm.VectorIndex.appendToIndex]],
  * `annIndexDir` + `vecCol`) — the full crawl→embed→serve loop: all
  * three serving paths are queryable WHILE the corpus ingests.
  *
  * Restart semantics (the standard non-transactional `foreachBatch`
  * story, stated honestly): a batch-id ledger in the dedup index dir
  * makes replayed batch ids no-ops, so a crash-restart does not
  * double-ingest a COMMITTED batch. Within an uncommitted batch:
  *
  *  - The BM25 postings append and the ANN lists append — NEITHER
  *    naturally idempotent — commit through per-batch sub-ledgers
  *    written INSIDE [[graft.llm.Retrieval.appendToIndex]] /
  *    [[graft.llm.VectorIndex.appendToIndex]], after every data step
  *    and before the pending fence clears. There is NO crash point
  *    that silently double-counts tf/df/N or double-appends PQ codes:
  *    a crash before the sub-ledger line trips the fence (detectable
  *    stop → rebuild), a crash after it is replay-skipped and the
  *    provably-stale fence cleared (`clearCompletedAppendFence`).
  *  - The dedup append is an ATOMIC STAGED COMMIT
  *    ([[graft.llm.Dedup.appendToDedupIndex]]'s commitLedger form):
  *    all four tables (two sidecars, two key tables) stage OUTSIDE the
  *    live dirs, then a fenced move → sub-ledger line → fence clear
  *    publishes them. A crash while staging leaves the index untouched
  *    (redo), a crash mid-move is resumed exactly
  *    ([[graft.llm.Dedup.resumeStagedAppend]], run up front so the
  *    probe never sees a half-published key set), and a crash after
  *    the ledger line is replay-skipped — no kill point drops or
  *    double-serves content. Compaction additionally converges the key
  *    tables to the sidecar truth (replayed-row dedup).
  *
  * The one remaining hard failure is a crash DURING a data step of
  * [[graft.llm.Retrieval.appendToIndex]] or
  * [[graft.llm.VectorIndex.appendToIndex]]: that trips the index's
  * pending fence (the index is torn — missing df_t / stale avdl /
  * half-landed lists files), every replay of the batch then throws,
  * and the stream CANNOT make progress until that index is rebuilt
  * over the corpus — a detectable stop, by design, rather than silent
  * wrong scores. Exactly-once would need a transactional index store.
  */
object IndexIngest {

  private val LedgerName = "_graft_ingest_ledger"
  private val Bm25LedgerName = "_graft_ingest_bm25_ledger"
  private val AnnLedgerName = "_graft_ingest_ann_ledger"
  private val DedupLedgerName = "_graft_ingest_dedup_ledger"

  /** Process one micro-batch; returns the number of appended docs, or
    * -1 when `batchId` is already in the ledger (replay after restart).
    * Exposed for direct testing and for batch-mode backfills.
    *
    * `dropNear` drops band-key near-duplicates as well as exact
    * content hits (the training-data default); `false` keeps near-dups
    * (the archival default — exact copies only).
    *
    * `compactEvery` > 0 runs [[graft.llm.Dedup.compactDedupIndex]] /
    * [[graft.llm.Retrieval.compactIndex]] after every N COMMITTED
    * batches (each append adds a file per bucket; without maintenance
    * a long-running stream degrades its own read path without bound —
    * the graft.Compact pass, self-administered). Compaction runs after
    * the ledger commit, so a crash mid-compact never loses the batch:
    * it trips the index's pending fence and the NEXT batch fails
    * loudly (rebuild the index, restart the stream) instead of serving
    * from a torn layout.
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   textCol: String, dedupIndexDir: String,
                   bm25IndexDir: Option[String],
                   dropNear: Boolean = true,
                   compactEvery: Int = 0,
                   annIndexDir: Option[String] = None,
                   vecCol: Option[String] = None): Long = {
    require(annIndexDir.isEmpty || vecCol.nonEmpty,
      "annIndexDir requires vecCol — the batch column holding the embeddings")
    val ledger = new java.io.File(dedupIndexDir, LedgerName)
    if (committedIds(ledger).contains(batchId)) return -1L
    // replay after a crash between a sub-ledger commit and that
    // append's fence clear: the append provably completed (the ledger
    // line lands strictly after every data step) — clear the stale
    // fence before any probe opens the index. Done up front because
    // the replay may collapse to zero survivors and never reach the
    // append branch. A fence carrying any OTHER content marks a
    // genuinely torn index and stays (detectable stop → rebuild).
    bm25IndexDir.foreach { dir =>
      if (committedIds(new java.io.File(dir, Bm25LedgerName)).contains(batchId))
        Retrieval.clearCompletedAppendFence(dir, batchId)
    }
    annIndexDir.foreach { dir =>
      if (committedIds(new java.io.File(dir, AnnLedgerName)).contains(batchId))
        graft.llm.VectorIndex.clearCompletedAppendFence(dir, batchId)
    }
    // dedup: same post-ledger handling, PLUS the mid-move resume — a
    // crash between the staged-append's file moves leaves the fence up
    // with the staging dir intact; completing the moves BEFORE the
    // probe runs is what keeps the probe from ever seeing (and acting
    // on) a half-published key set
    val dedupSubLedger = new java.io.File(dedupIndexDir, DedupLedgerName)
    if (committedIds(dedupSubLedger).contains(batchId))
      Dedup.clearCompletedAppendFence(dedupIndexDir, batchId)
    else
      Dedup.resumeStagedAppend(batch.sparkSession, dedupIndexDir, batchId,
        dedupSubLedger)
    // the batch's operator caches are released when the scope exits —
    // owner-tagged, so ONLY this batch's registrations go (releaseAll
    // would unpersist every co-resident job's frames on each
    // micro-batch; an identity snapshot would sweep frames a
    // concurrent stream registered during this batch)
    val n = graft.llm.CacheRegistry.scoped(batch.sparkSession) {
      // collapse the batch against ITSELF first: the index probe only
      // knows COMMITTED content, so two copies arriving in the same
      // micro-batch would otherwise both pass the probe and ingest
      // permanently. Near mode runs the full dedupCorpus (exact collapse
      // + LSH→CC) with the INDEX's own manifest parameters; exact mode
      // keeps the min-id row per text hash.
      val withinKeep =
        if (dropNear) {
          val (_, shingleN, numHashes, rowsPerBand) =
            Dedup.readDedupManifest(dedupIndexDir)
          Dedup.dedupCorpus(batch, idCol, textCol, shingleN, numHashes,
              rowsPerBand)
            .filter(col("kept") === 1L)
            .select(col("doc_id").as(idCol))
        } else {
          batch.groupBy(md5(col(textCol)).as("graft_h"))
            .agg(min(col(idCol)).as(idCol))
            .select(col(idCol))
        }
      val collapsed = batch.join(withinKeep, Seq(idCol), "left_semi")
      val flags = Dedup.dedupAgainstIndex(collapsed, idCol, textCol, dedupIndexDir)
      val keepIds = flags.filter(
        if (dropNear) col("exact_dup") === 0 && col("near_dup") === 0
        else col("exact_dup") === 0)
        .select(col(idCol))
      // bounded per-batch frame; two appends read it
      val survivors = collapsed.join(keepIds, Seq(idCol)).persist()
      val kept = survivors.count()
      if (kept > 0) {
        // postings first (fenced by the per-batch sub-ledger so a replay
        // after a post-append crash skips this step), dedup keys next
        // (idempotent anti-join), main ledger last — see restart
        // semantics above
        bm25IndexDir.foreach { dir =>
          val subLedger = new java.io.File(dir, Bm25LedgerName)
          if (!committedIds(subLedger).contains(batchId)) {
            // the sub-ledger line is written INSIDE the append, after
            // every data step and before the fence clears — so a replay
            // that finds the id in the ledger knows the postings landed
            // exactly once (no crash point silently double-appends)
            Retrieval.appendToIndex(survivors, idCol, textCol, dir,
              Some((subLedger, batchId)))
          }
        }
        // ANN: same fence + in-append sub-ledger contract — a replayed
        // batch must never double-append its PQ codes into the lists
        annIndexDir.foreach { dir =>
          val subLedger = new java.io.File(dir, AnnLedgerName)
          if (!committedIds(subLedger).contains(batchId)) {
            graft.llm.VectorIndex.appendToIndex(survivors, idCol,
              vecCol.get, dir, Some((subLedger, batchId)))
          }
        }
        if (!committedIds(dedupSubLedger).contains(batchId))
          Dedup.appendToDedupIndex(survivors, idCol, textCol, dedupIndexDir,
            Some((dedupSubLedger, batchId)))
      }
      survivors.unpersist()
      kept
    } // scope exit releases this batch's operator caches
    appendLine(ledger, batchId)
    if (compactEvery > 0 && committedIds(ledger).size % compactEvery == 0) {
      Dedup.compactDedupIndex(batch.sparkSession, dedupIndexDir)
      bm25IndexDir.foreach(Retrieval.compactIndex(batch.sparkSession, _))
      annIndexDir.foreach(
        graft.llm.VectorIndex.compactIndex(batch.sparkSession, _))
    }
    n
  }

  private def appendLine(ledger: java.io.File, batchId: Long): Unit = {
    val out = new java.io.FileWriter(ledger, true)
    try out.write(s"$batchId\n") finally out.close()
  }

  /** Start the streaming ingest: `docs` is a streaming frame carrying
    * (idCol, textCol). The dedup index must already exist
    * ([[graft.llm.Dedup.buildDedupIndex]], possibly over an empty
    * seed); the BM25 index likewise when given.
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
            dedupIndexDir: String, bm25IndexDir: Option[String],
            checkpoint: String, dropNear: Boolean = true,
            compactEvery: Int = 0,
            annIndexDir: Option[String] = None,
            vecCol: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, dedupIndexDir,
          bm25IndexDir, dropNear, compactEvery, annIndexDir, vecCol)
        ()
      }
      .start()

  private def committedIds(ledger: java.io.File): Set[Long] =
    if (!ledger.isFile) Set.empty
    else {
      val src = scala.io.Source.fromFile(ledger)
      try src.getLines().filter(_.nonEmpty).map(_.toLong).toSet
      finally src.close()
    }

  /** Process one ARCHIVE-MANIFEST micro-batch — the shape a real crawl
    * pipeline delivers: rows name WARC archive paths, not documents.
    * Every listed archive is parsed with
    * [[graft.sources.WarcCorpus.read]] (the chunk-parallel anchor
    * scan, so one huge archive still fans out across the cluster),
    * clean records map to (id, text) through caller-supplied SQL
    * expressions over the parsed columns (`idExpr` must produce a
    * BIGINT — a mis-wired URI scheme surfaces as the dedup index's
    * in-plan NULL-id contract error, not silent key collapse), and the
    * union feeds [[processBatch]] — the full crawl→parse→dedup→index
    * loop in one call. Quarantined records (with their archive path)
    * land under `quarantineDir`/batch_id=N BEFORE the ledger commit,
    * written with overwrite so a replayed batch refreshes its own
    * audit rows instead of duplicating them.
    *
    * The manifest is operations metadata — bounded by nature; the
    * limit+require turns a mis-wired document-stream into a clear
    * error instead of a driver OOM (the takedown-guard pattern). The
    * ARCHIVES stay distributed.
    */
  def processWarcBatch(manifest: DataFrame, batchId: Long, pathCol: String,
                       idExpr: String, textExpr: String,
                       dedupIndexDir: String, bm25IndexDir: Option[String],
                       quarantineDir: Option[String] = None,
                       dropNear: Boolean = true, compactEvery: Int = 0,
                       warcChunkSize: Long = 64L * 1024 * 1024,
                       maxPayloadBytes: Int = 4 * 1024 * 1024,
                       annIndexDir: Option[String] = None,
                       vecCol: Option[String] = None,
                       embed: DataFrame => DataFrame = identity): Long = {
    require(annIndexDir.isEmpty || vecCol.nonEmpty,
      "annIndexDir requires vecCol — the column `embed` adds to the batch")
    val spark = manifest.sparkSession
    // replayed batch ids are ledger no-ops in processBatch — but
    // checking HERE skips re-parsing (and re-quarantining) every
    // archive of a large batch on a crash-restart, minutes of wasted
    // scan work per replay; the original run's quarantine rows stand
    if (committedIds(new java.io.File(dedupIndexDir, LedgerName))
        .contains(batchId)) return -1L
    val maxArchives = 100000
    val raw = manifest.select(col(pathCol).cast("string").as("graft_p"))
      .distinct().limit(maxArchives + 1).collect()
    require(raw.forall(!_.isNullAt(0)),
      s"archive manifest contains NULL '$pathCol' values — fix the feed")
    val paths = raw.map(_.getString(0)).sorted.toSeq
    require(paths.length <= maxArchives,
      s"manifest batch exceeds $maxArchives archives — this is an " +
        "archive-path feed, not a document stream; check the wiring")
    // the parse feeds the quarantine write AND processBatch's several
    // plan branches (dedup probe, within-batch collapse, appends) —
    // uncached, every branch would re-run the full chunk-scan parse of
    // every archive (PERF LESSON 1). Batch-local persist, released in
    // the finally below whatever processBatch does.
    val parsed =
      if (paths.isEmpty) None
      else Some(graft.sources.WarcCorpus.readAuto(spark, paths,
        chunkSize = warcChunkSize, maxPayloadBytes = maxPayloadBytes).persist())
    try {
      val docs = parsed match {
        case None =>
          embed(spark.range(0).select(lit(null).cast("long").as("graft_wid"),
            lit(null).cast("string").as("graft_wtext")))
        case Some(pf) =>
          quarantineDir.foreach { qd =>
            graft.sources.WarcCorpus.quarantine(pf)
              .write.mode("overwrite").parquet(s"$qd/batch_id=$batchId")
          }
          // `embed` is the crawl→EMBED→index hook: it sees the typed
          // (graft_wid, graft_wtext) batch and must add `vecCol` when
          // the ANN leg is wired (a model-serving join, a precomputed-
          // vector lookup table, or a test stub — the pipeline doesn't
          // care)
          embed(graft.sources.WarcCorpus.clean(pf)
            .select(expr(idExpr).as("graft_wid"), expr(textExpr).as("graft_wtext")))
      }
      processBatch(docs, batchId, "graft_wid", "graft_wtext", dedupIndexDir,
        bm25IndexDir, dropNear, compactEvery, annIndexDir, vecCol)
    } finally parsed.foreach(_.unpersist())
  }

  private val FrontierLedgerName = "_graft_frontier_ledger"

  /** Process one crawl-DISCOVERY micro-batch: `batch` carries fetched
    * pages (`urlCol` = the page's own URL, `htmlCol` = its extracted
    * or raw HTML text); outlinks harvest via
    * [[graft.llm.UrlOps.extractLinks]], canonicalize to absolute
    * http(s) URLs, probe the persisted [[graft.llm.Frontier]], and the
    * UNSEEN ones (a) land as the next fetch manifest under
    * `outManifestDir`/batch_id=N (overwritten on replay, the
    * quarantine-write pattern) and (b) append to the frontier under
    * the data → fsync'd ledger → fence-clear ordering — so a crashed
    * and replayed batch neither loses nor double-emits frontier URLs.
    * The page's own URL is marked seen too (a page that links to
    * itself must not re-enter the fetch queue). Returns the count of
    * newly discovered URLs, or -1 on a replayed batch.
    *
    * This closes the crawl loop: WARC parse → [[processWarcBatch]]
    * (dedup + index the content) and THIS (grow the frontier + emit
    * the next manifest) are the two consumers of the same parsed
    * batch.
    *
    * COMPLIANCE + POLITENESS (round 14): `robots` (a (hostCol, txtCol)
    * corpus of fetched robots.txt bodies) gates the manifest through
    * [[graft.llm.Robots.disallowed]] — a disallowed URL NEVER reaches
    * the manifest, but it DOES append to the frontier (seen-but-not-
    * fetched is sticky; a robots policy change re-admits it via
    * [[graft.llm.Frontier.forgetUrls]]). `perDomainCap` bounds the
    * manifest to N URLs per registered domain per batch; cap-overflow
    * URLs are NOT appended to the frontier — they stay unseen, so a
    * later batch that re-discovers them re-considers them (the
    * documented bound: a URL linked exactly once and cap-dropped waits
    * for a re-link; an unbounded pending queue is the alternative this
    * design deliberately avoids).
    */
  def processDiscoveryBatch(batch: DataFrame, batchId: Long, urlCol: String,
                            htmlCol: String, frontierDir: String,
                            outManifestDir: Option[String] = None,
                            robots: Option[(DataFrame, String, String)] = None,
                            agent: String = "*",
                            perDomainCap: Option[Int] = None,
                            resolveRelative: Boolean = false,
                            scheduleDelays: Option[Double] = None,
                            harvestSitemaps: Boolean = false,
                            normalizeKeys: Boolean = false,
                            hostPriority: Option[(DataFrame, String, String)] = None): Long = {
    val spark = batch.sparkSession
    val ledger = new java.io.File(frontierDir, FrontierLedgerName)
    if (committedIds(ledger).contains(batchId)) {
      // replay of a batch that crashed AFTER its ledger line: the
      // append provably completed — clear the stale fence so later
      // batches can probe, then skip the work
      graft.llm.Frontier.clearCompletedAppendFence(frontierDir, batchId)
      return -1L
    }
    graft.llm.CacheRegistry.scoped(spark) {
      val pages = batch.select(col(urlCol).cast("string").as("graft_u"),
        col(htmlCol).cast("string").as("graft_h"))
      // normalizeKeys=true: EVERY frontier/manifest key flows through
      // UrlOps.urlNormalize, so link variants of one resource
      // (tracking params, default ports, case, fragments) collapse
      // onto one key — one fetch, one frontier row. Own URLs coalesce
      // back to raw when un-normalizable. Like resolveRelative, the
      // flag is an opt-in CONTRACT: an existing frontier keyed on raw
      // URLs must keep the setting it was built with.
      def keyed(c: org.apache.spark.sql.Column) =
        if (normalizeKeys)
          coalesce(graft.llm.UrlOps.urlNormalize(c), c)
        else c
      val own = pages.select(keyed(col("graft_u")).as("url")).distinct()
      // FETCHABLE outlinks only: http(s) with a real authority. The
      // host filter alone admits ftp:// and javascript://x (any
      // scheme with an authority shape) — unfetchable rows that would
      // pollute the frontier and the fetch manifest forever.
      // resolveRelative=true first resolves each harvested href
      // against the page's own URL (UrlOps.resolveUrl — the large
      // majority of outlinks on real pages are relative and are
      // otherwise dropped here) and then DEFRAGMENTS the result (a
      // fragment names a position inside a resource, not a resource;
      // without the strip every `#section` link re-keys its page into
      // the frontier as a new URL). Absolute fragment-free hrefs pass
      // through verbatim, so the flag only ADDS discoveries. Default
      // false keeps the absolute-only, verbatim-href contract
      // existing frontiers were built under.
      // harvestSitemaps=true: a fetched body that IS a sitemap
      // (urlset/sitemapindex document ROOT — Html.sitemapRootRegex;
      // an HTML page merely EMBEDDING sitemap markup must not donate
      // its example <loc>s as crawl keys. Robots Sitemap directives
      // and sitemapindex locs both land real sitemap pages in the
      // fetch loop) contributes its <loc> URLs alongside the href
      // harvest, so the sitemap tree walks itself through the
      // ordinary discovery batches with no separate code path. One
      // projection + one explode harvests BOTH populations — a union
      // of two selects would scan the uncached micro-batch source
      // twice more per trigger.
      val hrefArr = graft.llm.UrlOps.extractLinks(col("graft_h"))
      val harvestArr =
        if (harvestSitemaps)
          concat(hrefArr,
            when(col("graft_h").rlike(graft.llm.Html.sitemapRootRegex),
              graft.llm.Html.sitemapLocs(col("graft_h")))
              .otherwise(typedlit(Seq.empty[String])))
        else hrefArr
      val harvested = pages.select(col("graft_u"),
        explode(harvestArr).as("graft_href"))
      // the href TRIMS before resolving (browsers strip ASCII
      // whitespace from href values; untrimmed, ` https://x/y` fails
      // the scheme test, falls to the path-relative arm, and mints a
      // space-bearing junk key that PASSES the fetchability filter)
      val links = harvested
        .select(keyed(if (resolveRelative)
            regexp_extract(graft.llm.UrlOps.resolveUrl(
              col("graft_u"),
              regexp_replace(col("graft_href"), "^[\\s]+|[\\s]+$", "")),
              "^([^#]*)", 1)
          else col("graft_href")).as("url"))
        .filter(graft.llm.UrlOps.scheme(col("url")).isin("http", "https") &&
          graft.llm.UrlOps.host(col("url")).isNotNull)
        .distinct()
        // a page's own URL must never re-enter the fetch queue — even
        // when the frontier has not seen it (a redirect's final URL,
        // an unseeded start page): it was JUST fetched
        .join(own, Seq("url"), "left_anti")
      // one frontier scan for both populations: links feed the
      // manifest AND the frontier; own urls feed the frontier only
      val tagged = links.withColumn("graft_own", lit(false))
        .unionByName(own.withColumn("graft_own", lit(true)))
      val fresh = graft.llm.CacheRegistry.persist(
        graft.llm.Frontier.probeNew(tagged, "url", frontierDir))
      val freshLinks = fresh.filter(!col("graft_own")).select(col("url"))
      // the robots corpus reduces to THIS batch's hosts once, up
      // front — the disallow gate and the delay schedule below both
      // parse it, and without the shared reduction each would
      // semi-join and re-parse the crawl-sized corpus independently
      // PERSISTED: both consumers' actions would otherwise re-scan
      // and re-semi-join the crawl-sized corpus lazily
      val reducedRobots = robots.map { case (r, hostCol, txtCol) =>
        val batchHosts = freshLinks
          .select(graft.llm.UrlOps.host(col("url")).as("graft_bh"))
          .distinct()
        (graft.llm.CacheRegistry.persist(r.join(broadcast(batchHosts),
          lower(col(hostCol)) === col("graft_bh"), "left_semi")),
          hostCol, txtCol)
      }
      // robots gate: verdicts persist because BOTH the manifest (the
      // allowed side) and the frontier append (allowed ∪ disallowed)
      // consume them
      val verdicts = graft.llm.CacheRegistry.persist(reducedRobots match {
        case Some((r, hostCol, txtCol)) =>
          graft.llm.Robots.disallowed(freshLinks, "url", r, hostCol, txtCol, agent)
        case None => freshLinks.withColumn("disallowed", lit(false))
      })
      val allowedLinks = verdicts.filter(!col("disallowed")).select(col("url"))
      // hostPriority: a host-rank sidecar (pageRank/indegree over the
      // harvested host graph) attaches as the manifest's `priority`
      // column, and the politeness cap keeps the HIGHEST-priority URLs
      // per domain instead of the lexicographically-first — the
      // frontier keys stay plain URLs, priority is manifest-only
      val prioritized = hostPriority match {
        case Some((p, hc, pc)) =>
          graft.llm.Robots.withHostPriority(allowedLinks, "url", p, hc, pc)
        case None => allowedLinks
      }
      // politeness cap LAST (after the robots gate — a disallowed URL
      // must not consume a domain's quota)
      val computed = perDomainCap match {
        case Some(cap) => graft.llm.Robots.perDomainCap(prioritized, "url", cap,
          priorityCol = hostPriority.map(_ => "priority"))
        case None => prioritized
      }
      // CRASH-WINDOW RULE (found by the ChainSpec soak): a retry after
      // a crash INSIDE the frontier append must not recompute the
      // manifest — the crashed append already marked this batch's URLs
      // seen, so a fresh probe returns nothing and the retry would
      // overwrite the manifest EMPTY: every discovered URL silently
      // lost (seen-but-never-fetched). The manifest is durable (its
      // _SUCCESS lands before any frontier mutation), so a retry that
      // finds it REUSES it and only redoes the mutation. Reuse demands
      // PROOF the manifest came from this frontier's own crashed
      // attempt — every manifested URL must already probe as seen
      // (exactly the poisoned-probe signature); a stale manifest left
      // by a previous crawl incarnation in a reused outManifestDir
      // fails that check (its URLs are unknown to this frontier) and
      // the batch recomputes instead of resurrecting old discoveries.
      // scheduleDelays=Some(default): the manifest rows carry the
      // per-host politeness schedule (crawl_delay_sec / fetch_slot /
      // fetch_after_sec via Robots.scheduleManifest — the host's
      // Crawl-delay directive for `agent`, or the default) so a
      // fetcher can honor it without re-parsing robots. Schedule
      // columns are manifest-only; the frontier keys stay plain URLs.
      val scheduled = scheduleDelays match {
        case Some(d) =>
          val (r, hc, tc) = reducedRobots.getOrElse {
            import spark.implicits._
            (Seq.empty[(String, String)].toDF("host", "txt"), "host", "txt")
          }
          graft.llm.Robots.scheduleManifest(computed, "url", r, hc, tc,
            agent, d)
        case None => computed
      }
      val prior = outManifestDir
        .filter(od => new java.io.File(s"$od/batch_id=$batchId/_SUCCESS").isFile)
        .map(od => spark.read.schema("url STRING")
          .parquet(s"$od/batch_id=$batchId").select(col("url")))
        .filter(m => !m.isEmpty &&
          graft.llm.Frontier.probeNew(m, "url", frontierDir).isEmpty)
      val manifested = graft.llm.CacheRegistry.persist(prior.getOrElse(scheduled))
      if (prior.isEmpty) outManifestDir.foreach { od =>
        manifested.write.mode("overwrite").parquet(s"$od/batch_id=$batchId")
      }
      val n = manifested.count()
      // frontier: own urls + manifested links + disallowed links
      // (sticky policy drops); cap-overflow links stay UNSEEN
      val toAppend = fresh.filter(col("graft_own")).select(col("url"))
        .unionByName(manifested.select(col("url")))
        .unionByName(verdicts.filter(col("disallowed")).select(col("url")))
      graft.llm.Frontier.appendToFrontier(toAppend,
        frontierDir = frontierDir, urlCol = "url",
        commitLedger = Some((ledger, batchId)))
      n
    }
  }

  private val DeleteLedgerName = "_graft_takedown_ledger"

  /** Process one TAKEDOWN micro-batch — the delete-side twin of
    * [[processBatch]]: each arriving doc id tombstones in the BM25
    * index (and optionally the vector and dedup indexes); returns the
    * id count, or -1 on a replayed batch. Tombstone appends are
    * idempotent at read time (the query-side anti-join dedups ids), so
    * the ledger here only saves replay work — there is no double-count
    * hazard at all on this path. `dedupIndexDir` extends the takedown
    * to the dedup index via its doc→key sidecars
    * ([[graft.llm.Dedup.deleteFromDedupIndex]]): keys whose last
    * referencing doc is deleted stop matching immediately, so content
    * purged from the corpus can be RE-INGESTED later instead of being
    * silently dropped as a duplicate of a document that no longer
    * exists. `compactEvery` > 0 runs the physical merges after every N
    * committed takedown batches.
    */
  def processDeleteBatch(batch: DataFrame, batchId: Long, idCol: String,
                         bm25IndexDir: String,
                         annIndexDir: Option[String] = None,
                         compactEvery: Int = 0,
                         dedupIndexDir: Option[String] = None): Long = {
    val spark = batch.sparkSession
    val ledger = new java.io.File(bm25IndexDir, DeleteLedgerName)
    if (committedIds(ledger).contains(batchId)) return -1L
    // takedown batches are compliance lists — bounded by nature; the
    // limit+require turns a mis-wired corpus-sized stream into a clear
    // error instead of a driver OOM (the codebook-guard pattern)
    val maxIds = 1000000
    // NULL / uncastable ids would surface as null cells and getLong
    // would NPE the takedown stream — fail with a compliance-path
    // message instead (a takedown list with unparseable ids is a
    // mis-wired feed, not a skippable row)
    val rawIds = batch.select(col(idCol).cast("long").as("graft_id"))
      .distinct().limit(maxIds + 1).collect()
    require(rawIds.forall(!_.isNullAt(0)),
      s"takedown batch contains NULL or non-numeric '$idCol' values — " +
        "every takedown id must cast to BIGINT; fix the feed")
    val ids = rawIds.map(_.getLong(0)).toSeq
    require(ids.length <= maxIds,
      s"takedown batch exceeds $maxIds distinct ids — this is a bounded " +
        "compliance path; split the batch or rebuild the index instead")
    if (ids.nonEmpty) {
      Retrieval.deleteFromIndex(spark, bm25IndexDir, ids)
      annIndexDir.foreach(graft.llm.VectorIndex.deleteFromIndex(spark, _, ids))
      dedupIndexDir.foreach(Dedup.deleteFromDedupIndex(spark, _, ids))
    }
    appendLine(ledger, batchId)
    if (compactEvery > 0 && committedIds(ledger).size % compactEvery == 0) {
      Retrieval.compactIndex(spark, bm25IndexDir)
      annIndexDir.foreach(graft.llm.VectorIndex.compactIndex(spark, _))
      dedupIndexDir.foreach(Dedup.compactDedupIndex(spark, _))
    }
    ids.length.toLong
  }
}
