package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Sparse-retrieval operators for corpus curation: BM25 scoring and
  * top-k ranking over the whitespace token stream. The quality-weighted
  * cousin of the tf-idf keyword extractor — what a data pipeline runs to
  * pull topical slices out of a 100-TB corpus (seed-document expansion,
  * domain probes, eval-set mining) without an embedding model.
  *
  * All scoring is exact integer arithmetic (HALF_UP basis points), so
  * results are engine-independent and oracle-checkable: the classic
  * `log`-based idf is replaced by its rational core
  * `(2N − 2df + 1) / (2df + 1)` in bp (the Robertson–Sparck-Jones
  * numerator/denominator without the log — monotone in df, so rankings
  * for a fixed term agree; across terms rare terms weigh more, same as
  * BM25), and the Okapi length normalization with k1 = 1.2, b = 0.75 is
  * carried as one exact fraction
  * `44·avdl·tf / (20·avdl·tf + 6·avdl + 18·dl)` (multiply the textbook
  * form `tf·(k1+1) / (tf + k1·(1 − b + b·dl/avdl))` through by
  * `20·avdl`), with `avdl` held in HALF_UP milli-tokens.
  *
  * Scale notes: the tf table is one shuffle; doc lengths and term dfs
  * are partial-aggregated reductions of it; the corpus stats row is a
  * 1-row plan-embedded aggregate (no driver action); the query-term
  * table is bounded (`nQueries·termsPerQuery` rows) so its join is a
  * broadcast; the final top-k is a per-query window over the bounded
  * query set. Intermediates stay within BIGINT while
  * `avdl_milli · max_tf < 1.0e13` — e.g. a 10k-token average corpus
  * with per-doc term frequencies up to 10^6.
  */
object Retrieval extends PersistedIndex {

  /** BM25 top-k retrieval: build `nQueries` probe queries of
    * `termsPerQuery` terms each from the corpus's highest-df terms
    * (df desc, term asc — deterministic), score every matching document
    * with integer-exact BM25, and keep the top `k` docs per query
    * (score desc, id asc).
    *
    * Output: `qid, rnk, id, n_terms, score_bp` — `n_terms` is how many
    * of the query's terms the document contains.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               nQueries: Int = 8, termsPerQuery: Int = 3,
               k: Int = 5): DataFrame = {
    require(nQueries > 0 && termsPerQuery > 0 && k > 0,
      "nQueries, termsPerQuery and k must be positive")
    val (tf, _, stats, termDf) = tokenIndex(df, idCol, textCol)
    // Probe queries: the nQueries*termsPerQuery highest-df terms,
    // chunked in rank order. orderBy+limit is a distributed top-k
    // (TakeOrderedAndProject); the row_number window then runs on a
    // bounded (<= nQueries*termsPerQuery rows) frame, so its single
    // partition is by construction, not a scale hazard.
    val nTerms = nQueries * termsPerQuery
    val ranked = termDf
      .orderBy(col("df_t").desc, col("tok"))
      .limit(nTerms)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("df_t").desc, col("tok")))
          .cast("long"))
    val queries = ranked.select(col("tok"), col("df_t"),
      expr(s"(rk - 1) DIV $termsPerQuery").as("qid"))
    scoreQueries(tf, stats, queries, k)
  }

  /** BM25 top-k for CALLER-SUPPLIED queries: `queryTerms` is a
    * (qid LONG, tok STRING) frame — the user-facing retrieval entry
    * (`graft.Search` wraps it). Terms absent from the corpus simply
    * contribute nothing (they match no document). Same integer-exact
    * scoring and plan shape as [[bm25TopK]]; `queryTerms` must be
    * bounded (it broadcasts).
    */
  def bm25TopKFor(df: DataFrame, idCol: String, textCol: String,
                  queryTerms: DataFrame, k: Int = 5): DataFrame = {
    require(k > 0, "k must be positive")
    val (tf, _, stats, termDf) = tokenIndex(df, idCol, textCol)
    scoreQueries(tf, stats, resolveTerms(queryTerms, termDf), k)
  }

  /** Two-stage retrieval with pseudo-relevance feedback (Rocchio):
    * BM25 pulls `kCand` sparse candidates per query, the top `kSeed`
    * of them define the query's embedding centroid (per-dimension
    * signed-HALF_UP mean over milli-quantized vectors), and all
    * candidates rerank by their exact integer dot product with that
    * centroid — the classic retrieve-then-rerank pipeline, fully
    * deterministic. Candidates without an embedding row SURVIVE with a
    * NULL dot, ranked after every densely-scored candidate in their
    * BM25 order (a failed-embed doc can't be scored densely, but the
    * sparse stage already judged it relevant — dropping it would make
    * the rerank lossy exactly for the docs most likely to be broken
    * and worth inspecting). Missing-embedding SEEDS contribute nothing
    * to the centroid.
    *
    * Everything after the BM25 stage runs on per-query bounded frames
    * (≤ kCand rows each): the candidate-embedding join is id-keyed,
    * the centroid is |queries|·d rows and broadcasts, the dot is an
    * in-row zip_with.
    *
    * Output: (qid, prf_rnk, id, bm25_rnk, score_bp, dot).
    */
  def bm25PrfRerank(docs: DataFrame, embeds: DataFrame, idCol: String,
                    textCol: String, vecIdCol: String, vecCol: String,
                    queryTerms: DataFrame, kCand: Int = 20, kSeed: Int = 3,
                    k: Int = 10): DataFrame = {
    require(kSeed >= 1 && kSeed <= kCand && k >= 1,
      s"need 1 <= kSeed <= kCand and k >= 1, got kSeed=$kSeed kCand=$kCand k=$k")
    val cands = bm25TopKFor(docs, idCol, textCol, queryTerms, kCand)
    val qv = embeds.select(col(vecIdCol).cast("long").as("id"),
      expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
        .as("qv"))
    // bounded (|queries|·kCand rows) but feeds two branches; LEFT join:
    // a candidate with no embedding row keeps its slot (qv NULL — the
    // centroid posexplode skips it, the zip_with dot nulls out)
    val withVec = CacheRegistry.persist(cands.join(qv, Seq("id"), "left"))
    val cen = withVec.filter(col("rnk") <= kSeed)
      .select(col("qid"), posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy(col("qid"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("qid"), col("dim"),
        expr("CASE WHEN s >= 0 THEN (2 * s + n) DIV (2 * n) " +
          "ELSE -((2 * (-s) + n) DIV (2 * n)) END").as("c"))
      .groupBy(col("qid"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)")
        .as("cv"))
    // left join + coalesce fallback: a query whose every seed lacks an
    // embedding row has no centroid — its candidates keep their BM25
    // order (dot stays NULL in the output) instead of vanishing.
    // coalesce inside the zip_with makes ragged vector lengths
    // contribute 0 on the non-overlapping dims — the same partial-
    // overlap sum the per-dimension oracle join computes.
    // rank order: densely-scored candidates first (dot desc), then the
    // NULL-dot tail (no centroid, or no embedding row) in BM25 order.
    // The scored-first flag is explicit — a bare coalesce(dot, -rnk)
    // would let an unscored candidate outrank a NEGATIVE real dot.
    withVec.join(broadcast(cen), Seq("qid"), "left")
      .withColumn("dot", when(col("cv").isNotNull && col("qv").isNotNull, expr(
        "aggregate(zip_with(qv, cv, (a, b) -> coalesce(a, 0L) * coalesce(b, 0L)), " +
          "0L, (acc, x) -> acc + x)")))
      .withColumn("prf_rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("dot").isNotNull.desc, col("dot").desc,
            when(col("dot").isNull, col("rnk")).otherwise(lit(0L)).asc,
            col("id")))
        .cast("long"))
      .filter(col("prf_rnk") <= k)
      .select(col("qid"), col("prf_rnk"), col("id"), col("rnk").as("bm25_rnk"),
        col("score_bp"), col("dot"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two per-query
    * ranked candidate lists — the standard HYBRID-retrieval merge
    * (sparse BM25 arm + dense ANN arm): each list contributes
    * HALF_UP(10⁶ / (kRrf + rank)) for every candidate it ranked, 0
    * where absent, and candidates re-rank by the summed score. Rank
    * fusion needs no score calibration between arms — exactly why
    * serving stacks use it — and the once-rounded integer contributions
    * make the fused ranking engine-exact (ties → lowest id).
    *
    * Both inputs carry (qid, id, rnk), must hold ONE row per (qid, id)
    * (what a top-k list is — a duplicated candidate would double its
    * contribution), and are per-query BOUNDED, so the full-outer join
    * and the per-query re-rank window run on ≤ 2·|list| rows per query
    * at any corpus size. Output: (qid, rrf_rnk, id, rrf_micro, rnk_a,
    * rnk_b) — arm ranks NULL where the arm missed the candidate.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60): DataFrame = {
    require(k > 0 && kRrf >= 0, s"need k >= 1 and kRrf >= 0, got k=$k kRrf=$kRrf")
    def contrib(rnk: String): org.apache.spark.sql.Column = expr(
      s"CASE WHEN $rnk IS NULL THEN 0L " +
        s"ELSE (2000000 + ($kRrf + $rnk)) DIV (2 * ($kRrf + $rnk)) END")
    val ja = a.select(col("qid"), col("id"), col("rnk").cast("long").as("rnk_a"))
    val jb = b.select(col("qid"), col("id"), col("rnk").cast("long").as("rnk_b"))
    ja.join(jb, Seq("qid", "id"), "full_outer")
      .withColumn("rrf_micro", contrib("rnk_a") + contrib("rnk_b"))
      .withColumn("rrf_rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rrf_micro").desc, col("id"))).cast("long"))
      .filter(col("rrf_rnk") <= k)
      .select(col("qid"), col("rrf_rnk"), col("id"), col("rrf_micro"),
        col("rnk_a"), col("rnk_b"))
  }

  /** Ranking-quality metrics per query — the eval table every
    * retrieval change is judged by: over the top-`k` of a ranked
    * candidate list and a (qid, id) relevance set, emit hits@k, the
    * first relevant rank, reciprocal rank in HALF_UP micro
    * (MRR = its mean), and precision@k in HALF_UP bp. Integer-exact —
    * no graded-gain logs, so the numbers replay on any engine. Queries
    * with NO relevant candidate in the top-k emit first_rel_rank NULL
    * and rr_micro 0 (the MRR convention); queries absent from `ranked`
    * entirely still appear (all-zero row) so the mean divides by
    * |queries|, not |queries that returned something|.
    *
    * Both inputs are per-query bounded (a top-k list and a labeled
    * relevance set), so the join and the per-query aggregate are
    * broadcast-sized at any corpus scale. Output: (qid, n_rel_in_k,
    * first_rel_rank, rr_micro, prec_bp).
    */
  def rankingMetrics(ranked: DataFrame, relevant: DataFrame,
                     queries: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val topk = ranked.select(col("qid"), col("id"), col("rnk").cast("long").as("rnk"))
      .filter(col("rnk") <= k)
    val rel = relevant.select(col("qid"), col("id")).distinct()
    val per = topk.join(rel, Seq("qid", "id"), "left_semi")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_rel_in_k"), min(col("rnk")).as("first_rel_rank"))
    queries.select(col("qid")).distinct()
      .join(per, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_rel_in_k"), lit(0L)).as("n_rel_in_k"),
        col("first_rel_rank"))
      .withColumn("rr_micro", expr(
        """CASE WHEN first_rel_rank IS NULL THEN 0L
          |ELSE (2000000 + first_rel_rank) DIV (2 * first_rel_rank) END""".stripMargin))
      .withColumn("prec_bp", expr(s"(20000 * n_rel_in_k + $k) DIV (2 * $k)"))
  }

  /** Binary-relevance nDCG@k — the position-weighted companion to
    * [[rankingMetrics]]: DCG = Σ over relevant ranks of the discount
    * 10⁶/log₂(rank+1), IDCG = the best achievable (all relevant items
    * packed at the top, capped at min(n_relevant, k)), ndcg_bp =
    * HALF_UP(10⁴·DCG/IDCG). The k discounts are per-rank CONSTANTS —
    * once-rounded to micro on the driver (`round(1e6·ln 2/ln(r+1))`)
    * and replayed verbatim by the oracle — so the sums and the final
    * ratio are integer-exact. Queries with no relevant item in
    * `relevant` AT ALL emit NULL ndcg (undefined), with zero hits
    * reporting 0. Bounded inputs, broadcast-sized work (see
    * rankingMetrics). Output: (qid, dcg_micro, idcg_micro, ndcg_bp).
    */
  def ndcgAtK(ranked: DataFrame, relevant: DataFrame, queries: DataFrame,
              k: Int): DataFrame = {
    require(k > 0 && k <= 1000, s"k must be in [1,1000], got $k")
    val disc = (1 to k).map(r =>
      math.round(1e6 * math.log(2.0) / math.log(r + 1.0)))
    val dLit = typedLit(disc)
    val rel = relevant.select(col("qid"), col("id")).distinct()
    val nRel = rel.groupBy(col("qid")).agg(count(lit(1)).as("graft_nrel"))
    val dcg = ranked.select(col("qid"), col("id"), col("rnk").cast("int").as("rnk"))
      .filter(col("rnk") <= k)
      .join(rel, Seq("qid", "id"), "left_semi")
      .groupBy(col("qid"))
      .agg(sum(element_at(dLit, col("rnk"))).as("dcg_micro"))
    queries.select(col("qid")).distinct()
      .join(nRel, Seq("qid"), "left")
      .join(dcg, Seq("qid"), "left")
      .withColumn("graft_disc", dLit)
      .select(col("qid"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        expr(s"""CASE WHEN graft_nrel IS NULL THEN CAST(NULL AS BIGINT)
                |ELSE aggregate(slice(graft_disc, 1,
                |       CAST(LEAST(graft_nrel, $k) AS INT)),
                |     0L, (a, x) -> a + x) END""".stripMargin).as("idcg_micro"))
      .withColumn("ndcg_bp", expr(
        """CASE WHEN idcg_micro IS NULL THEN CAST(NULL AS BIGINT)
          |ELSE (20000 * dcg_micro + idcg_micro) DIV (2 * idcg_micro) END"""
          .stripMargin))
  }

  /** Normalize caller queries: project, dedup (a repeated (qid, term)
    * row would silently double that term's contribution), resolve dfs.
    */
  private def resolveTerms(queryTerms: DataFrame, termDf: DataFrame): DataFrame =
    queryTerms
      .select(col("qid").cast("long").as("qid"), col("tok"))
      .distinct()
      .join(termDf, Seq("tok"))

  /** The shared corpus passes: the (id, tok, tf, dl) postings table
    * (persisted — it feeds term dfs and the scoring join), doc lengths,
    * the 1-row corpus stats (avdl in HALF_UP milli-tokens, embedded in
    * the plan — no eager count()), and per-term document frequencies.
    *
    * tf and dl are computed IN-ROW: a document's tokens all live in its
    * own text cell, so the per-(doc, term) counts are one array_sort
    * plus a run-boundary walk per row — the explode → groupBy(id, tok)
    * exchange the old shape paid (a full corpus-token shuffle at any
    * scale) is gone, and dl rides DENORMALIZED on every posting so
    * scoring needs no corpus-sized dl join either (guide §2.3/§2.4:
    * aggregate before you shuffle / remove shuffles outright). Counts,
    * lengths, dfs and avdl are identical to the exploded formulation by
    * construction. Intermediates (sorted array, run starts) ride
    * through 1-element explode(array(…)) Generates — the
    * withViterbiPieces optimizer barrier — so ProjectCollapse cannot
    * inline the O(n·log n) sort into every element_at reference.
    */
  private def tokenIndex(df: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tf = CacheRegistry.persist(TokenRuns.explodeCounts(
        df.select(col(idCol).as("id"),
            filter(split(col(textCol), " "), t => t =!= lit("")).as("graft_ws"))
          .withColumn("dl", size(col("graft_ws")).cast("long")),
        col("graft_ws"), "tok", "tf")
      .select(col("id"), col("tok"), col("tf"), col("dl")))
    val dl = df
      .select(col(idCol).as("id"),
        size(filter(split(col(textCol), " "), t => t =!= lit("")))
          .cast("long").as("dl"))
      .filter(col("dl") > 0)
    val stats = dl.agg(
        count(lit(1)).as("n_docs"), sum(col("dl")).as("l_tot"))
      .select(col("n_docs"),
        expr("(2000 * l_tot + n_docs) DIV (2 * n_docs)").as("avdl_m"))
    val termDf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df_t"))
    (tf, dl, stats, termDf)
  }

  /** Source-diversified BM25 top-k: same scoring as [[bm25TopKFor]],
    * but at most `maxPerSource` results per (query, source) survive
    * before the global top-k — the search-results-diversity rule that
    * stops one duplicate-mill source from monopolizing a probe's
    * slate. One extra id-keyed join (the source lookup) and one extra
    * bounded window pass.
    */
  def bm25DiversifiedFor(df: DataFrame, idCol: String, textCol: String,
                         srcCol: String, queryTerms: DataFrame, k: Int,
                         maxPerSource: Int): DataFrame = {
    require(k > 0 && maxPerSource > 0, "k and maxPerSource must be positive")
    val (tf, _, stats, termDf) = tokenIndex(df, idCol, textCol)
    val scored = scoreAll(tf, stats, resolveTerms(queryTerms, termDf))
      .join(df.select(col(idCol).as("id"), col(srcCol).as("source")), Seq("id"))
    val perSrc = scored.withColumn("src_rnk",
        row_number().over(Window.partitionBy(col("qid"), col("source"))
          .orderBy(col("score_bp").desc, col("id"))))
      .filter(col("src_rnk") <= maxPerSource)
    perSrc
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score_bp").desc, col("id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("id"), col("source"),
        col("n_terms"), col("score_bp"))
  }

  /** Score + rank: per (query, doc) sum of HALF_UP(idf_bp·tfnorm_bp /
    * 1e4) over a bounded (tok, df_t, qid) query frame (broadcast), then
    * the per-query top-k window.
    */
  private def scoreQueries(tf: DataFrame, stats: DataFrame,
                           queries: DataFrame, k: Int): DataFrame =
    rankTopK(scoreAll(tf, stats, queries), k)

  /** Per-query top-k window over the scored (qid, id, …) frame. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score_bp").desc, col("id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("id"), col("n_terms"), col("score_bp"))

  /** The unranked (qid, id, n_terms, score_bp) scoring core. dl rides
    * on the postings frame ([[tokenIndex]] denormalizes it in-row), so
    * the only corpus-sized move is the matched-postings groupBy.
    */
  private def scoreAll(tf: DataFrame, stats: DataFrame,
                       queries: DataFrame): DataFrame =
    scorePostings(tf.join(broadcast(queries), Seq("tok")), stats)

  /** BM25 arithmetic over an already-joined postings frame carrying
    * (qid, id, tf, dl, df_t) per matched (query-term, doc) pair. The
    * trailing groupBy's (qid, id) clustering is satisfied by an
    * id-partitioned input where one exists; on the indexed path it is
    * the ONE shuffle, and it moves only the matched postings.
    */
  private def scorePostings(joined: DataFrame, stats: DataFrame): DataFrame = {
    joined
      .crossJoin(broadcast(stats))
      .withColumn("idf_bp", expr(
        "(20000 * (2 * n_docs - 2 * df_t + 1) + (2 * df_t + 1)) DIV (2 * (2 * df_t + 1))"))
      .withColumn("den", expr(
        "20 * avdl_m * tf + 6 * avdl_m + 18 * dl * 1000"))
      .withColumn("tfn_bp", expr(
        "(20000 * 44 * avdl_m * tf + den) DIV (2 * den)"))
      .withColumn("contrib_bp", expr(
        "(2 * idf_bp * tfn_bp + 10000) DIV 20000"))
      .groupBy(col("qid"), col("id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib_bp")).as("score_bp"))
  }

  // ------------------------------------------------------------------
  // Persisted inverted index over BucketedWarehouse
  // ------------------------------------------------------------------

  /** Layout version + bucket count, persisted next to the data so a
    * fresh session can re-attach the bucket spec. v2 stores the corpus
    * stats as the MERGEABLE pair (n_docs, l_tot) — avdl is derived at
    * open — so incremental appends can fold a batch in without a
    * corpus pass.
    */
  override protected def manifestName: String = "_graft_index_manifest"
  override protected def indexVersion: Int = 2
  override protected def pendingName: String = "_graft_append_pending"
  override protected def indexKind: String = "index"
  override protected def buildHint: String = "run buildIndex first"

  /** Materialize the BM25 token index ONCE as bucketed parquet under
    * `indexDir`, so later [[bm25TopKIndexed]] calls score without
    * re-tokenizing the corpus — the fix for retrieval's only 100-TB
    * scale gap (every ad-hoc probe previously paid a full corpus
    * tokenize + shuffle).
    *
    *  - `postings` (tok, id, tf, dl): one row per (term, doc), with the
    *    doc length DENORMALIZED in — query-time scoring needs no
    *    corpus-sized dl join at all. Bucketed + sorted by `tok`: a
    *    query's `tok IN (…)` literal filter prunes the scan to the
    *    buckets holding its terms (the inverted-index read pattern —
    *    at thousands of buckets the scan touches a vanishing fraction
    *    of the corpus).
    *  - `terms` (tok, df_t): the vocabulary, bucketed by `tok` for the
    *    same pruning on query-term resolution.
    *  - `stats`: the 1-row (n_docs, avdl_m) corpus stats, plain parquet.
    *
    * `numBuckets` is the caller's scale knob (buckets ≈ corpus size /
    * executor-memory-sized chunk; thousands at 100 TB). Doc ids are
    * stored as BIGINT — the one schema the manifest pins.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 indexDir: String, numBuckets: Int): Unit = {
    require(numBuckets > 0, "numBuckets must be positive")
    val spark = docs.sparkSession
    val (tf, dl, stats, termDf) =
      tokenIndex(docs.select(col(idCol).cast("long").as(idCol), col(textCol)),
        idCol, textCol)
    val (pName, tName) = tableNames(indexDir)
    graft.sources.BucketedWarehouse.writeBucketedPath(
      tf.select(col("tok"), col("id"), col("tf"), col("dl")),
      pName, s"$indexDir/postings", Seq("tok"), numBuckets)
    graft.sources.BucketedWarehouse.writeBucketedPath(
      termDf.select(col("tok"), col("df_t")),
      tName, s"$indexDir/terms", Seq("tok"), numBuckets)
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("l_tot"))
      .write.mode("overwrite").parquet(s"$indexDir/stats")
    writeManifest(indexDir, Seq("numBuckets" -> numBuckets.toString))
  }

  /** Fold an append batch into a persisted index WITHOUT touching the
    * already-indexed corpus: the batch's postings append to the
    * bucketed postings table (same bucket spec — each append adds one
    * file per bucket, which the scan unions and still prunes), the
    * vocabulary table is re-aggregated from (old terms ∪ batch terms)
    * — vocabulary-sized work, not corpus-sized — and the stats row
    * folds in the batch's (n_docs, l_tot). Batch doc ids MUST be new:
    * a re-sent id would double its postings (the caller dedups
    * upstream, e.g. via snapshotDiff's `added` class).
    *
    * BM25 scores from the appended index equal a full rebuild's
    * exactly: postings rows, dfs, and the avdl numerator are all
    * additive when ids are disjoint.
    */
  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
                    indexDir: String): Unit =
    appendToIndex(docs, idCol, textCol, indexDir, None)

  /** [[appendToIndex]] with the append COMMITTED TO A LEDGER as part of
    * the fence-clear sequence — the streaming-ingest form
    * ([[graft.streaming.IndexIngest]]'s per-batch BM25 sub-ledger).
    * `commitLedger = Some((ledgerFile, batchId))` makes the ordering:
    * data steps → ledger line (fsync'd) → fence clear. A replay that
    * finds `batchId` in the ledger therefore KNOWS every data step
    * landed and skips the append — the silent double-append window the
    * ledger-after-return ordering had (crash between the append's
    * commit point and the caller's ledger write re-appended one batch's
    * postings on replay) does not exist: a crash before the ledger line
    * trips the pending fence (detectable stop → rebuild), a crash after
    * it is replay-skipped, and [[clearCompletedAppendFence]] clears the
    * provably-stale fence the post-ledger crash leaves behind (the
    * fence file carries the batch id precisely so the replay can prove
    * whose completed append it fences).
    */
  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
                    indexDir: String,
                    commitLedger: Option[(java.io.File, Long)]): Unit = {
    val spark = docs.sparkSession
    val (postings0, terms0, stats0) = openIndex(spark, indexDir)
    val nb = readManifest(indexDir)
    // crash fence: an append is a multi-step mutation (postings append,
    // terms swap, stats overwrite) with no transaction — a crash
    // mid-way would otherwise leave a manifest-valid index that scores
    // silently wrong (missing df_t, stale avdl). The pending marker
    // turns that window into a DETECTABLE invalid state: indexExists()
    // is false while it is present, so cached fixtures and IndexIngest
    // rebuild instead of reusing a torn index.
    requireNoFence(indexDir, "append")
    raiseFence(indexDir, commitLedger.map(_._2.toString).getOrElse(""))
    val (pName, tName) = tableNames(indexDir)
    val (tf, dl, _, termDf) =
      tokenIndex(docs.select(col(idCol).cast("long").as(idCol), col(textCol)),
        idCol, textCol)
    graft.sources.BucketedWarehouse.appendBucketedPath(
      tf.select(col("tok"), col("id"), col("tf"), col("dl")),
      pName, s"$indexDir/postings", Seq("tok"), nb)
    // terms: merge old + batch into a staging table, then swap dirs —
    // writing over the table being read is the classic self-overwrite
    // trap, so the merge lands in terms_new and a rename makes it live
    val merged = terms0.unionAll(termDf.select(col("tok"), col("df_t")))
      .groupBy(col("tok")).agg(sum(col("df_t")).as("df_t"))
    graft.sources.BucketedWarehouse.writeBucketedPath(
      merged, s"${tName}_new", s"$indexDir/terms_new", Seq("tok"), nb)
    spark.sql(s"DROP TABLE IF EXISTS `$tName`")
    spark.sql(s"DROP TABLE IF EXISTS `${tName}_new`")
    deleteRecursively(new java.io.File(indexDir, "terms"))
    java.nio.file.Files.move(
      new java.io.File(indexDir, "terms_new").toPath,
      new java.io.File(indexDir, "terms").toPath)
    // stats: two 1-row frames — collect before the overwrite
    val oldStats = statsRaw(spark, indexDir).head()
    val batch = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("l")).head()
    import spark.implicits._
    Seq((oldStats.getLong(0) + batch.getLong(0),
        oldStats.getLong(1) + batch.getLong(1)))
      .toDF("n_docs", "l_tot")
      .write.mode("overwrite").parquet(s"$indexDir/stats")
    // the postings handle is unused but keeps the signature honest
    locally { val _ = (postings0, stats0) }
    // every data step landed — record the commit in the caller's ledger
    // (fsync'd: the line must be durable BEFORE the fence clears, or a
    // crash between the two could leave a fence with no ledger proof),
    // then clear the fence; the ledger line is the commit point when
    // one is given, the fence delete otherwise
    crashPoint(spark, "bm25_append_before_ledger")
    commitLedger.foreach { case (ledger, id) => appendLineSync(ledger, id) }
    crashPoint(spark, "bm25_append_after_ledger")
    clearFence(indexDir)
  }

  /** Compact an append-grown index: rewrite the postings and terms
    * tables to ONE file per bucket (each [[appendToIndex]] adds a file
    * per bucket; scans union them and read-side latency degrades
    * linearly in append count). With no pending deletes, reads are
    * row-identical before and after — same rows, same bucket spec —
    * pinned by OpsSpec. With tombstones ([[deleteFromIndex]]), this is
    * also the MERGE that makes deletes physical: deleted postings are
    * dropped in the rewrite, the vocabulary and corpus stats are
    * recomputed from the surviving postings, and the tombstone table
    * clears — afterwards the index is bit-identical to a rebuild over
    * the remaining corpus (pinned by the q278/q279 oracle pair). The
    * multi-step rewrite is fenced with the same pending marker as
    * appends: a crash mid-compact leaves a DETECTABLY invalid index
    * (indexExists false → rebuild), never silently wrong scores.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String): Unit = {
    val nb = readManifest(indexDir)
    openIndex(spark, indexDir)
    requireNoFence(indexDir, "append/compact")
    // every doc tombstoned → n_docs=0 would make openIndex's avdl
    // divide by zero and later probes silently score NULL; an empty
    // index is not a servable state — fail BEFORE the fence goes up
    // (nothing is mutated, so the index stays valid and serving)
    requireSurvivors(spark, indexDir,
      spark.read.parquet(s"$indexDir/postings"),
      s"compactIndex at $indexDir would leave zero surviving docs — " +
        "an empty BM25 index cannot serve scores; drop the index dir " +
        "and rebuild when content exists")
    raiseFence(indexDir, "")
    val (pName, tName) = tableNames(indexDir)
    tombstoneIds(spark, indexDir) match {
      case None =>
        graft.sources.BucketedWarehouse.compactBucketedPath(
          spark, pName, s"$indexDir/postings", Seq("tok"), nb)
        graft.sources.BucketedWarehouse.compactBucketedPath(
          spark, tName, s"$indexDir/terms", Seq("tok"), nb)
      case Some(ts) =>
        // physical delete: the postings rewrite ALSO filters, then the
        // vocabulary and stats recompute from the surviving postings —
        // one extra pass each over the already-compacted files
        graft.sources.BucketedWarehouse.rewriteBucketedPath(
          spark.read.parquet(s"$indexDir/postings")
            .join(broadcast(ts), Seq("id"), "left_anti"),
          spark, pName, s"$indexDir/postings", Seq("tok"), nb)
        val livePostings = spark.read.parquet(s"$indexDir/postings")
        graft.sources.BucketedWarehouse.rewriteBucketedPath(
          livePostings.groupBy(col("tok")).agg(count(lit(1)).as("df_t")),
          spark, tName, s"$indexDir/terms", Seq("tok"), nb)
        livePostings.select(col("id"), col("dl")).distinct()
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("l_tot"))
          .write.mode("overwrite").parquet(s"$indexDir/stats")
        clearTombstones(indexDir)
    }
    clearFence(indexDir)
  }

  private def readManifest(indexDir: String): Int =
    readManifestProps(indexDir).getProperty("numBuckets").toInt

  private def statsRaw(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/stats")

  /** Deterministic per-path catalog names — re-registration in a new
    * session attaches to the same name, and two indexes coexist.
    */
  private def tableNames(indexDir: String): (String, String) = {
    val tag = tableTag(indexDir)
    (s"graft_idx_${tag}_postings", s"graft_idx_${tag}_terms")
  }

  /** Open a persisted index: read the manifest, re-register the
    * bucketed external tables in this session's catalog if absent, and
    * return (postings, terms, stats) frames whose scans carry the
    * bucket spec.
    */
  def openIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val nb = readManifest(indexDir)
    val (pName, tName) = tableNames(indexDir)
    graft.sources.BucketedWarehouse.registerExternal(spark, pName,
      s"$indexDir/postings", "tok STRING, id BIGINT, tf BIGINT, dl BIGINT",
      Seq("tok"), nb)
    graft.sources.BucketedWarehouse.registerExternal(spark, tName,
      s"$indexDir/terms", "tok STRING, df_t BIGINT", Seq("tok"), nb)
    // avdl derives from the mergeable (n_docs, l_tot) pair at open —
    // exactly tokenIndex's HALF_UP milli-token formula
    (spark.table(pName), spark.table(tName),
      statsRaw(spark, indexDir).select(col("n_docs"),
        expr("(2000 * l_tot + n_docs) DIV (2 * n_docs)").as("avdl_m")))
  }

  /** BM25 top-k from a PERSISTED index — [[bm25TopKFor]]'s scoring,
    * zero corpus passes. `queries` carries literal term lists (what a
    * CLI probe is), so the `tok IN (…)` filter is a literal predicate
    * the bucketed scans prune on: only the buckets containing the
    * query's terms are read, the broadcast query join filters them to
    * exact matches, and the single shuffle is the (qid, id) aggregation
    * of the matched postings. Row-identical to [[bm25TopKFor]] on the
    * same corpus (pinned by the oracle gate). Tombstoned docs
    * ([[deleteFromIndex]]) are excluded from candidates before the
    * top-k window (a broadcast anti-join — tombstones are bounded
    * between compactions).
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, queries: Seq[Seq[String]],
                      k: Int = 5): DataFrame = {
    require(k > 0, "k must be positive")
    require(queries.nonEmpty && queries.forall(_.nonEmpty),
      "every query needs at least one term")
    val (postings, terms, stats) = openIndex(spark, indexDir)
    val toks = queries.flatten.distinct
    import spark.implicits._
    val queryTerms = queries.zipWithIndex
      .flatMap { case (ts, i) => ts.distinct.map(t => (i.toLong, t)) }
      .toDF("qid", "tok")
    val resolved = terms.filter(col("tok").isin(toks: _*))
      .join(broadcast(queryTerms), Seq("tok"))
    val joined = postings.filter(col("tok").isin(toks: _*))
      .join(broadcast(resolved), Seq("tok"))
    rankTopK(scorePostings(withoutTombstoned(spark, indexDir, joined), stats), k)
  }

  // ------------------------------------------------------------------
  // Deletes (takedowns): the Lucene tombstone pattern
  // ------------------------------------------------------------------

  /** Delete documents from the index WITHOUT rewriting it — the
    * takedown/compliance path. Ids append to a tombstone table;
    * [[bm25TopKIndexed]] anti-joins candidates against it, so deleted
    * docs stop being SERVED immediately. Corpus statistics (df, avdl,
    * N) stay stale until the next [[compactIndex]] physically drops the
    * postings and recomputes them — exactly Lucene's delete-then-merge
    * semantics: results never contain a deleted doc, scores drift by
    * the stale stats until merge, and the merge restores exactness.
    * Idempotent (re-deleting an id is a no-op at read time; compaction
    * dedups the tombstone list).
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, ids: Seq[Long]): Unit =
    appendTombstoneIds(spark, indexDir, ids)
}
