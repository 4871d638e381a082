package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword n-gram heuristic), quality metrics (length/punct/stopword
  * ratios), token counting (whitespace + BPE-ish regex pieces), and
  * document fingerprinting (min-hash over word 5-grams). Everything is a
  * built-in expression — codegen'd, shuffle-free except the fingerprint's
  * groupBy.
  */
object TextAnalysis {

  /** Tiny deterministic stopword table per language. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "une"))

  /** Language ID: argmax of stopword hits, ties broken by language code
    * ascending; zero hits ⇒ "und" (undetermined).
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), langPred(col(textCol)).as("lang_pred"))

  /** The [[langId]] prediction as a row-local (shuffle-free, codegen'd)
    * Column, reusable wherever the text column is already in scope.
    */
  def langPred(text: Column): Column = {
    val toks = split(text, " ")
    val counts = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(filter(toks, t => t.isin(words: _*))).cast("long").as("hits"),
        lit(lang).as("lang"))
    }
    val maxHits = array_max(transform(array(counts: _*), c => c.getField("hits")))
    // NULL text has zero stopword hits by definition — classify it
    // "und" rather than letting the NULL propagate through maxHits
    // (which would yield a NULL prediction the oracles' COALESCE maps
    // to 'und')
    when(text.isNull || maxHits === 0, lit("und"))
      .otherwise(array_min(transform(
        filter(array(counts: _*), c => c.getField("hits") === maxHits),
        c => c.getField("lang"))))
  }

  /** Language-ID confusion matrix: the [[langId]] heuristic scored
    * against a ground-truth label column — the eval you run before
    * trusting a cheap classifier to route a 100-TB corpus. One cell per
    * (truth, predicted) pair with the cell's share of its truth row in
    * HALF_UP basis points, so per-language recall is the diagonal cell's
    * `share_bp` directly.
    *
    * The prediction is row-local (no shuffle); the matrix is two
    * |langs|²-bounded aggregations — constant-size output regardless of
    * corpus scale.
    */
  def langIdConfusion(df: DataFrame, textCol: String,
                      truthCol: String): DataFrame = {
    // cells feeds two branches (rowTotals + the final join) — persist
    // it so the corpus-wide prediction scan runs once, not twice
    val cells = CacheRegistry.persist(df
      .select(col(truthCol).as("lang_true"),
        langPred(col(textCol)).as("lang_pred"))
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs")))
    val rowTotals = cells.groupBy(col("lang_true"))
      .agg(sum(col("n_docs")).as("graft_tot"))
    cells.join(rowTotals, Seq("lang_true"))
      .select(col("lang_true"), col("lang_pred"), col("n_docs"),
        expr("(20000 * n_docs + graft_tot) DIV (2 * graft_tot)").as("share_bp"))
  }

  /** Quality metrics as exact integers: character/token/punct/digit/
    * stopword counts + a coarse quality bucket.
    */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = split(t, " ")
    val allStop = stopwords.values.flatten.toSeq
    val nChars = length(t).cast("long")
    val nTokens = size(toks).cast("long")
    val nPunct = (length(t) - length(regexp_replace(t, "[.,;:!?]", ""))).cast("long")
    val nDigits = (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("long")
    val nStop = size(filter(toks, x => x.isin(allStop: _*))).cast("long")
    df.select(
      col(idCol).as("id"), nChars.as("n_chars"), nTokens.as("n_tokens"),
      nPunct.as("n_punct"), nDigits.as("n_digits"), nStop.as("n_stopwords"),
      when(nTokens < 5, "too_short")
        .when(nStop * 10 < nTokens, "low_stopword")
        .otherwise("ok").as("quality_bucket"))
  }

  /** Token counts: whitespace tokens and BPE-ish pieces (letter runs,
    * single digits, single non-alphanumerics).
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      size(split(col(textCol), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))
        .cast("long").as("bpe_pieces"))

  /** Top-k TF-IDF keywords per document. The RANKING is pure-integer
    * (tf desc, then document frequency asc, then term asc), so it is
    * deterministic across engines; the tfidf double is carried as an
    * informational score. At corpus scale the df table is term-keyed and
    * joins back to tf with map-side partial aggregation on both groupBys.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nDocs rides in the plan as a broadcast 1-row agg (no eager action
    // on the driver — same shape as boilerplateMass's graft_nd).
    val nDocs = df.select(count(lit(1)).cast("double").as("graft_nd"))
    // tf is computed IN-ROW ([[TokenRuns]] — a doc's tokens live in its
    // own text cell, so the explode → groupBy(id, term) exchange was a
    // shuffle of partition-local groups; note NO empty-token filter:
    // the grouped form counted them and the oracle does too). It feeds
    // both the df aggregation and the scoring join. Cache lifecycle:
    // [[CacheRegistry]] — release after materializing.
    val tf = CacheRegistry.persist(TokenRuns.explodeCounts(
        df.select(col(idCol).as("id"), split(col(textCol), " ").as("graft_ws")),
        col("graft_ws"), "term", "tf")
      .select(col("id"), col("term"), col("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") * log(col("graft_nd") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("graft_nd")
  }

  /** Document fingerprint: minimum md5 over word 5-grams (one-permutation
    * min-hash — a deterministic, order-independent content signature),
    * plus the distinct-gram count. Documents with fewer than five words
    * have no grams and are dropped (matching the explode/groupBy form).
    *
    * Pure per-row array expressions — no explode, no shuffle: the
    * operator is a narrow codegen'd scan at any corpus size.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(
        col("id"),
        expr("transform(sequence(0, size(ws) - 5), i -> " +
          "concat(ws[i], ' ', ws[i+1], ' ', ws[i+2], ' ', ws[i+3], ' ', ws[i+4]))").as("grams"))
      .select(
        col("id"),
        array_min(expr("transform(grams, g -> md5(g))")).as("fingerprint"),
        size(array_distinct(col("grams"))).cast("long").as("n_grams"))

  /** Winnowing fingerprints (Schleimer et al. 2003 — the MOSS
    * algorithm): hash every word k-gram, slide a w-hash window, and
    * select each window's minimum; the DISTINCT selected hashes are the
    * document's fingerprint set. Unlike the single min-hash
    * [[fingerprint]], winnowing guarantees any shared run of
    * w + k - 1 words between two documents shares a fingerprint —
    * the plagiarism/near-dup detector's local guarantee. Documents with
    * fewer than w k-grams winnow one window over all grams; fewer than
    * k words drop. Returns (id, n_grams, n_windows, n_fps, min_fp).
    *
    * Pure per-row array expressions (hash transform + per-window
    * `array_min` over a slice) — no explode, no shuffle; the w-wide
    * slice keeps the scan O(grams × w) with w a small constant.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    val parts = (0 until k)
      .map(o => if (o == 0) "ws[i]" else s"ws[i+$o]").mkString(", ' ', ")
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("id"), expr(
        s"transform(transform(sequence(0, size(ws) - $k), i -> concat($parts)), g -> md5(g))")
        .as("hs"))
      .select(col("id"), size(col("hs")).cast("long").as("n_grams"),
        expr(s"""CASE WHEN size(hs) >= $w
                |  THEN transform(sequence(0, size(hs) - $w),
                |         j -> array_min(slice(hs, j + 1, $w)))
                |  ELSE array(array_min(hs)) END""".stripMargin).as("mins"))
      .select(col("id"), col("n_grams"),
        size(col("mins")).cast("long").as("n_windows"),
        size(array_distinct(col("mins"))).cast("long").as("n_fps"),
        array_min(col("mins")).as("min_fp"))
  }

  /** Benchmark-contamination check: for every (train doc, benchmark doc)
    * pair sharing at least `minShared` distinct word n-grams, the count
    * of shared n-grams. The benchmark side is the small one by
    * construction (eval sets are thousands of docs; the corpus is
    * billions), so its distinct n-grams broadcast and the probe is a
    * map-side join on the corpus scan — no corpus shuffle. Returns
    * (train_doc, bench_doc, n_shared).
    */
  def crossNgramOverlap(train: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        n: Int, minShared: Long): DataFrame = {
    // per-doc gram sets dedup inside the scan (array_distinct before the
    // explode) — the train side reaches the probe join with NO shuffle at
    // all; the only exchange left is the final per-pair groupBy
    val t = Dedup.distinctShingles(train, idCol, textCol, n)
    val b = Dedup.distinctShingles(bench, idCol, textCol, n)
      .select(col("id").as("bench_doc"), col("shingle"))
    t.join(broadcast(b), Seq("shingle"))
      .groupBy(col("id").as("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Inverted-index statistics: per term, the number of documents
    * containing it (df) and its total occurrence count (total_tf), for
    * the k terms with the highest df (ties → term asc). Two map-side
    * combinable aggregations — (doc, term) then term — and the top-k is
    * a TakeOrdered, so the reduce side never sees more than the
    * vocabulary; posting-list materialization is left to the caller
    * (join back on term) because at corpus scale the full lists ARE the
    * data. Returns (term, df, total_tf).
    */
  def docFrequency(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val perDoc = df
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)
  }

  /** End-to-end benchmark decontamination — the composition a training
    * pipeline runs before an eval: flag every train document sharing at
    * least `minShared` distinct word n-grams with ANY benchmark document
    * ([[crossNgramOverlap]] semantics), and emit the keep decision. The
    * contaminated-id set is bounded only by |train| (a heavily
    * contaminated corpus makes it corpus-proportional), so the join
    * strategy is left to the planner — AQE broadcasts it at runtime when
    * it actually measures small. Returns (idCol, contaminated LONG,
    * kept LONG), one row per train doc.
    */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String,
                    n: Int, minShared: Long): DataFrame = {
    val bad = crossNgramOverlap(train, bench, idCol, textCol, n, minShared)
      .select(col("train_doc").as(idCol)).distinct()
      .withColumn("graft_bad", lit(1L))
    train.join(bad, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("graft_bad"), lit(0L)).as("contaminated"),
        when(col("graft_bad").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** Bigram language-model quality score — the perplexity-proxy filter
    * corpus pipelines run (CCNet-style: score each document under an
    * n-gram LM trained on the corpus itself; outliers are boilerplate or
    * noise). Add-one smoothing: P(w2|w1) = (c2(w1,w2)+1)/(c1(w1)+V),
    * where c1 counts w1 as a bigram head and V is the unigram vocabulary
    * size. Returns (id, n_bigrams, lp_sum_micro): lp_sum_micro is the
    * per-document sum of round(1e6·ln P) as BIGINT — each log is rounded
    * to integer micro-nats once per DISTINCT bigram before any
    * summation, so the result is independent of partial-agg order (the
    * bit-reproducibility lesson from the entropy and k-means operators).
    *
    * Scale shape: counts and the score table are per-DISTINCT-bigram
    * (vocabulary-sized, map-side combinable); the corpus pays one
    * (w1,w2)-keyed shuffle join to pick up scores plus the per-doc agg.
    * No driver actions — V rides in as a broadcast 1-row cross join.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"), split(col(textCol), " ").as("graft_ws"))
    val bigrams = CacheRegistry.persist(toks
      .filter(size(col("graft_ws")) >= 2)
      .select(col("id"), explode(expr(
        """transform(sequence(0, size(graft_ws) - 2),
          |  i -> struct(graft_ws[i] AS w1, graft_ws[i + 1] AS w2))""".stripMargin)).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val c2 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("graft_c2"))
    val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("graft_c1"))
    val vocab = toks.select(explode(col("graft_ws")).as("w"))
      .filter(col("w") =!= "").agg(countDistinct(col("w")).as("graft_v"))
    val scores = c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        expr("""CAST(round(ln(CAST(graft_c2 + 1 AS DOUBLE) /
               |               CAST(graft_c1 + graft_v AS DOUBLE)) * 1000000.0) AS BIGINT)"""
          .stripMargin).as("graft_lp"))
    bigrams.join(scores, Seq("w1", "w2"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("graft_lp")).as("lp_sum_micro"))
  }

  /** Corpus-level boilerplate detection — the cross-document complement
    * to the within-document repetition rules: a word n-gram is
    * boilerplate when it appears in at least `num/denom` of all
    * documents (site chrome, licence headers, navigation text). Per
    * document: distinct-gram count, how many of those are boilerplate,
    * and the boilerplate char mass (Σ strlen over its boilerplate
    * grams) in integer bp of the document's word-char mass, HALF_UP.
    * This is the signal that would have caught the q106 pathology —
    * corpus-wide boilerplate glues LSH buckets — BEFORE shingling.
    *
    * Scale shape: gram document-frequency is one map-side-combinable
    * aggregation over in-scan-deduped grams ([[Dedup.distinctShingles]]);
    * the corpus size rides in as a 1-row broadcast (no driver collect in
    * the plan); the per-doc rollup joins per-distinct-gram. Returns
    * (id, n_grams, n_boiler, boiler_bp).
    */
  def boilerplateMass(df: DataFrame, idCol: String, textCol: String,
                      n: Int, num: Int = 1, denom: Int = 5): DataFrame = {
    require(num > 0 && denom > 0, s"fraction must be positive, got $num/$denom")
    val grams = Dedup.distinctShingles(df, idCol, textCol, n)
    val nDocs = df.select(count(lit(1)).as("graft_nd"))
    // boilerplate grams: doc frequency ≥ num/denom of the corpus
    val boiler = grams.groupBy(col("shingle"))
      .agg(count(lit(1)).as("graft_df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("graft_df") * denom >= col("graft_nd") * num)
      .select(col("shingle"), length(col("shingle")).cast("long").as("graft_len"))
    val perDoc = grams.join(broadcast(boiler), Seq("shingle"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("graft_len").isNotNull, 1L).otherwise(0L)).as("n_boiler"),
        sum(coalesce(col("graft_len"), lit(0L))).as("graft_mass"))
    df.select(col(idCol).as("id"), col(textCol).as("graft_t"))
      .withColumn("graft_chars",
        (length(col("graft_t")) - (size(split(col("graft_t"), " ")) - 1)).cast("long"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        expr("(20000 * coalesce(graft_mass, 0) + graft_chars) div (2 * graft_chars)")
          .as("boiler_bp"))
  }

  /** Per-document log-probability under a bigram LM built from a
    * REFERENCE corpus (add-one smoothed, integer micro-nats rounded per
    * bigram — deterministic because every occurrence of a (w1, w2) pair
    * rounds the identical value, so the integer sum is order-free).
    * Bigrams unseen in the reference back off through the same formula
    * with zero counts: ln((0+1)/(0+V)). Returns
    * (id, n_bigrams, lp_sum_micro).
    *
    * Scale shape: the reference collapses to its bigram/unigram count
    * tables (map-side combinable, vocabulary-sized); the corpus pays one
    * (w1, w2)-keyed join and one id-keyed rollup. The vocab scalar rides
    * a 1-row broadcast.
    */
  def lmScoreAgainst(docs: DataFrame, ref: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    def bigramsOf(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), split(col(textCol), " ").as("graft_ws"))
        .filter(size(col("graft_ws")) >= 2)
        .select(col("id"), explode(expr(
          """transform(sequence(0, size(graft_ws) - 2),
            |  i -> struct(graft_ws[i] AS w1, graft_ws[i + 1] AS w2))""".stripMargin)).as("b"))
        .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val refBigrams = bigramsOf(ref)
    val c2 = refBigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("graft_c2"))
    val c1 = refBigrams.groupBy(col("w1")).agg(count(lit(1)).as("graft_c1"))
    val vocab = ref.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "").agg(countDistinct(col("w")).as("graft_v"))
    bigramsOf(docs)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("id"),
        expr("""CAST(round(ln(CAST(coalesce(graft_c2, 0) + 1 AS DOUBLE) /
               |               CAST(coalesce(graft_c1, 0) + graft_v AS DOUBLE)) * 1000000.0)
               |  AS BIGINT)""".stripMargin).as("graft_lp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("graft_lp")).as("lp_sum_micro"))
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore & Lewis
    * 2010, the classic targeted-selection method): score every document
    * under an IN-DOMAIN bigram LM and a GENERAL bigram LM and rank by
    * the difference — documents that look much more like the target
    * domain than like the background select first. Scores are
    * [[lmScoreAgainst]] integer micro-nats, so the delta is exact.
    * Documents too short to form a bigram emit zeros. Returns
    * (id, n_bigrams, lp_in_micro, lp_gen_micro, ml_delta_micro).
    *
    * Scale shape: two reference LM count tables + two (w1, w2)-keyed
    * corpus joins (each the [[lmScoreAgainst]] shape) and one id-keyed
    * merge — nothing quadratic, no windows.
    */
  def mooreLewisSelect(docs: DataFrame, inDomain: DataFrame, general: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val sIn = lmScoreAgainst(docs, inDomain, idCol, textCol)
      .select(col("id"), col("n_bigrams"), col("lp_sum_micro").as("lp_in_micro"))
    val sGen = lmScoreAgainst(docs, general, idCol, textCol)
      .select(col("id"), col("lp_sum_micro").as("lp_gen_micro"))
    docs.select(col(idCol).as("id"))
      .join(sIn, Seq("id"), "left")
      .join(sGen, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lp_in_micro"), lit(0L)).as("lp_in_micro"),
        coalesce(col("lp_gen_micro"), lit(0L)).as("lp_gen_micro"),
        (coalesce(col("lp_in_micro"), lit(0L)) -
          coalesce(col("lp_gen_micro"), lit(0L))).as("ml_delta_micro"))
  }

  /** N-gram novelty against a reference corpus — the freshness signal a
    * pipeline computes before admitting a new crawl snapshot (how much
    * of a document is text the reference has never seen). Per document:
    * the count of DISTINCT word n-grams, the count of those absent from
    * the reference's global n-gram set, and their ratio in basis points
    * (integer HALF_UP — no float division on either engine). Documents
    * too short to form one n-gram emit (0, 0, 0).
    *
    * Scale shape: both sides dedup grams inside the scan
    * ([[Dedup.distinctShingles]] — `array_distinct` BEFORE the explode,
    * the q67 lesson), so the join is per-distinct-gram; the reference
    * collapses to its vocabulary (one map-side-combinable distinct)
    * before joining, and the per-doc rollup is one bounded aggregation.
    * Returns (id, total_grams, novel_grams, novelty_bp).
    */
  def ngramNovelty(df: DataFrame, ref: DataFrame,
                   idCol: String, textCol: String, n: Int): DataFrame = {
    val docGrams = Dedup.distinctShingles(df, idCol, textCol, n)
    val refGrams = Dedup.distinctShingles(ref, idCol, textCol, n)
      .select(col("shingle")).distinct().withColumn("graft_seen", lit(1L))
    val perDoc = docGrams.join(refGrams, Seq("shingle"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("total_grams"),
        sum(when(col("graft_seen").isNull, 1L).otherwise(0L)).as("novel_grams"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("total_grams"), lit(0L)).as("total_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"))
      .withColumn("novelty_bp",
        when(col("total_grams") === 0L, lit(0L))
          .otherwise(expr("(20000 * novel_grams + total_grams) div (2 * total_grams)")))
  }

  /** Column-appending fingerprint variant: adds `fingerprint` to the
    * ORIGINAL columns (null for documents with fewer than five words), so
    * it composes into wider pipelines — including streaming ones — with
    * no join.
    */
  /** One BPE training step (Sennrich, Haddow, Birch, "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016): count
    * every adjacent character pair across the corpus weighted by word
    * frequency and emit the top merge candidates — the inner loop a
    * distributed tokenizer trainer repeats after applying the winning
    * merge. Scale shape: tokens collapse to the word VOCABULARY first
    * (one map-side-combinable groupBy — post-shuffle volume is distinct
    * words, not corpus tokens), pair expansion is in-row over each
    * word's characters, and the pair aggregation is again partial-agg'd;
    * the top-n is a bounded TakeOrdered. Counts are exact integers.
    * Output: (pair, n), count desc, pair asc.
    */
  def bpePairCounts(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    val vocab = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    vocab
      .select(explode(expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"), col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(topN)
  }

  /** Full BPE training loop (Sennrich et al., ACL 2016): `merges`
    * iterations of count-pairs → pick the most frequent → apply the
    * merge corpus-wide, emitting the learned merge table — the actual
    * tokenizer-prep artifact ([[bpePairCounts]] is one unrolled step).
    * Output: (step, sym_a, sym_b, merged, n), one row per learned merge
    * in training order; fewer than `merges` rows when the vocabulary
    * runs out of adjacent pairs. Ties break (n desc, sym_a asc, sym_b
    * asc) and the merge applies greedily left-to-right non-overlapping
    * — the reference semantics of Sennrich's `learn_bpe`.
    *
    * Scale shape, the [[graft.operators.GraphOps.pageRank]] pattern:
    * tokens collapse to the word VOCABULARY once up front (post-shuffle
    * volume is distinct words, not corpus tokens, and every iteration
    * runs over that bounded frame); each iteration is one map-side-
    * combinable pair aggregation plus a 1-row argmax action, with the
    * symbol-array rewrite running in-row (the per-word fold is a
    * higher-order function — CodegenFallback, but per WORD per step,
    * never per candidate pair, which is the regime BENCH_NOTES allows).
    * Vocab frames localCheckpoint every 3rd step — lineage otherwise
    * deepens per level — and superseded checkpoint RDDs are released
    * deterministically. Vocabularies at or under `smallVocabThreshold`
    * words (< 0 → the `graft.bpe.smallVocabWords` session conf, default
    * 100k) train on the DRIVER over the collected word list — identical
    * integer counts and tie-breaks, none of the per-iteration job
    * overhead that dominates small-vocab corpora; a spec pins both
    * paths row-identical.
    */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int,
               smallVocabThreshold: Long = -1L): DataFrame = {
    require(merges >= 1 && merges <= 64, s"merges must be in [1, 64], got $merges")
    val spark = df.sparkSession
    val cutoff =
      if (smallVocabThreshold >= 0L) smallVocabThreshold
      else spark.conf.get("graft.bpe.smallVocabWords", "100000").toLong
    val vocab0 = graft.llm.CacheRegistry.persist(df
      .select(explode(split(col(textCol), " ")).as("graft_w"))
      .filter(length(col("graft_w")) >= 2)
      .groupBy(col("graft_w")).agg(count(lit(1)).as("graft_f")))
    val probeN = math.min(cutoff + 1L, Int.MaxValue.toLong).toInt
    if (vocab0.limit(probeN).count() <= cutoff)
      return bpeTrainDriver(spark, vocab0, merges)

    // distributed loop over (symbol array, word freq)
    // split('', -1) appends one trailing empty match — filter it
    var vocab: DataFrame = vocab0.select(
      filter(split(col("graft_w"), ""), s => s =!= lit("")).as("graft_syms"),
      col("graft_f")).localCheckpoint()
    def dropCheckpoint(d: DataFrame): Unit = d.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
    var prevCkpt = vocab
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      // adjacent pairs weighted by word freq; single-symbol words emit
      // nothing (the sequence() guard matters: sequence(1, 0) DESCENDS)
      val pairs = vocab.select(explode(expr(
          """CASE WHEN size(graft_syms) < 2 THEN CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)
            |ELSE transform(sequence(1, size(graft_syms) - 1),
            |  i -> struct(element_at(graft_syms, i) AS a,
            |              element_at(graft_syms, i + 1) AS b)) END""".stripMargin))
          .as("graft_p"), col("graft_f"))
        .groupBy(col("graft_p.a").as("graft_a"), col("graft_p.b").as("graft_b"))
        .agg(sum(col("graft_f")).as("graft_n"))
      val top = pairs.orderBy(col("graft_n").desc, col("graft_a"), col("graft_b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step.toLong, a, b, a + b, n))
        // greedy left-to-right fold: replace a trailing `a` when the next
        // symbol is `b`. Equivalent to index-skipping greedy because the
        // merged symbol a+b can never itself equal `a` (b is non-empty).
        // get() is the 0-based NULL-on-out-of-bounds accessor — the empty
        // accumulator must not trip ANSI element_at.
        val mergedSyms = aggregate(col("graft_syms"),
          array().cast("array<string>"),
          (acc, s) => when(get(acc, size(acc) - 1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(s))))
        vocab = vocab.select(mergedSyms.as("graft_syms"), col("graft_f"))
        if (step % 3 == 0 || step == merges) {
          vocab = vocab.localCheckpoint()
          dropCheckpoint(prevCkpt)
          prevCkpt = vocab
        }
        step += 1
      }
    }
    dropCheckpoint(prevCkpt)
    bpeMergesFrame(spark, learned.toSeq)
  }

  /** Driver BPE training over the collected (bounded) word vocabulary —
    * the exact counts, tie-breaks, and greedy merge of the distributed
    * loop. Symbols are Unicode code points (what Spark's split('')
    * yields), not UTF-16 code units.
    */
  private def bpeTrainDriver(spark: org.apache.spark.sql.SparkSession,
      vocab0: DataFrame, merges: Int): DataFrame = {
    def codePoints(w: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    var words: Array[(Array[String], Long)] =
      vocab0.collect().map(r => (codePoints(r.getString(0)), r.getLong(1)))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // tie-break must match the distributed path's
        // orderBy(graft_a, graft_b) — Spark's unsigned UTF-8 byte order,
        // not Java String order (graft.core.Utf8Order; the LPA hazard)
        implicit val utf8: Ordering[String] = graft.core.Utf8Order.stringOrdering
        val ((a, b), n) = counts.minBy { case ((pa, pb), pn) => (-pn, pa, pb) }(
          Ordering.Tuple3(implicitly[Ordering[Long]], utf8, utf8))
        learned += ((step.toLong, a, b, a + b, n))
        words = words.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, f)
        }
        step += 1
      }
    }
    bpeMergesFrame(spark, learned.toSeq)
  }

  /** BPE tokenization with a LEARNED merge table ([[bpeTrain]]'s
    * output): per document, the token count after applying every merge
    * corpus-wide in training order (greedy left-to-right, the trainer's
    * own semantics — applying ranks sequentially reproduces the
    * trained segmentation). Output per document: (id, n_words,
    * n_tokens, tokens_per_word_bp) — the fertility diagnostic computed
    * with the REAL learned tokenizer instead of [[tokenFertility]]'s
    * regex proxy. Words under 2 chars (excluded from training) count
    * one token each.
    *
    * Scale shape: the merge chain applies to the DISTINCT-WORD
    * vocabulary, not the corpus (tokens collapse first — the
    * [[bpeTrain]] judgment); per-word token counts join back to the
    * exploded corpus and aggregate per document. The merge table is a
    * driver-sized artifact by definition (`require`-bounded collect);
    * the k chained folds are per-word HOFs, never per-pair.
    */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
                     merges: DataFrame): DataFrame = {
    val ms = merges.select(col("step").cast("long"), col("sym_a"), col("sym_b"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    require(ms.length <= 64, s"merge table must be bounded (<= 64), got ${ms.length}")
    val words = df
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("graft_w"))
    val vocab = words.select(col("graft_w")).distinct()
      .filter(length(col("graft_w")) >= 2)
    // chain the learned merges over the symbol array in training order
    var syms: Column = filter(split(col("graft_w"), ""), s => s =!= lit(""))
    ms.foreach { case (a, b) =>
      syms = aggregate(syms, array().cast("array<string>"),
        (acc, s) => when(get(acc, size(acc) - 1) === lit(a) && s === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))
    }
    val wordTokens = vocab.select(col("graft_w"), size(syms).cast("long").as("graft_nt"))
    words.join(wordTokens, Seq("graft_w"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"),
        // un-joined rows are the <2-char words: one token each
        sum(coalesce(col("graft_nt"), lit(1L))).as("n_tokens"))
      .withColumn("tokens_per_word_bp",
        expr("(20000 * n_tokens + n_words) DIV (2 * n_words)"))
  }

  private def bpeMergesFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[(Long, String, String, String, Long)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("step", LongType, nullable = false),
      StructField("sym_a", StringType, nullable = false),
      StructField("sym_b", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("n", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3, r._4, r._5)), 1), schema)
  }

  /** Tokenizer fertility per source — pieces/word and bytes/token, the
    * diagnostic that decides whether a tokenizer fits a corpus slice
    * (high fertility = more pieces per word = more compute per byte of
    * text). One map-side-combinable aggregation; the per-document
    * counters are the q38 tokenization (whitespace words + BPE-ish regex
    * pieces) computed in-row. Ratios are integer HALF_UP in basis points
    * (pieces·10⁴/words) and centi-units (chars·10²/pieces), exact on any
    * engine. Output per source: (source, n_docs, n_chars, ws_tokens,
    * bpe_pieces, fertility_bp, chars_per_piece_c).
    */
  def tokenFertility(df: DataFrame, srcCol: String, textCol: String): DataFrame =
    df.select(
        col(srcCol).as("source"),
        length(col(textCol)).cast("long").as("c"),
        size(split(col(textCol), " ")).cast("long").as("w"),
        size(regexp_extract_all(col(textCol), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))
          .cast("long").as("p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("c").as("n_chars"),
        sum("w").as("ws_tokens"), sum("p").as("bpe_pieces"))
      .withColumn("fertility_bp", expr("(20000 * bpe_pieces + ws_tokens) div (2 * ws_tokens)"))
      .withColumn("chars_per_piece_c", expr("(200 * n_chars + bpe_pieces) div (2 * bpe_pieces)"))

  /** Template-family detection via structural fingerprints: hash the
    * sequence of word LENGTHS (structure, not content), so
    * machine-generated documents that differ only in slot values — spam
    * templates, boilerplate mail-merge, SEO farms — collapse to one
    * fingerprint with many docs but multiple distinct texts. The
    * complement to content dedup: exact dedup misses these entirely
    * (every text is unique) and near-dup may miss them when slots are
    * long. One map-side-combinable aggregation; the fingerprint is
    * in-row. Output: (struct_fp, n_docs, n_texts, first_doc) for
    * families of at least `minDocs` documents.
    */
  def templateFingerprints(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("graft_t"))
      .withColumn("struct_fp", md5(concat_ws(",",
        expr("transform(split(graft_t, ' '), w -> CAST(length(w) AS STRING))"))))
      .groupBy(col("struct_fp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("graft_t")).as("n_texts"),
        min(col("id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its HASHED-bigram features are
    * under the target domain than under the raw corpus. The hashing
    * trick is the point — both models live in a fixed `nBuckets`-dim
    * space regardless of vocabulary, so the model tables are bounded by
    * construction and broadcast. log-ratio per bucket is rounded ONCE
    * to integer micro-nats (the q102/q114 discipline), then each doc
    * sums count·weight as BIGINTs — engine-exact. Scale shape: two
    * bounded bucket-count aggregations (map-side combinable, post-
    * shuffle volume = nBuckets), one broadcast join onto the in-row
    * bucketed bigram stream, one id-keyed sum. Output: (id, n_bigrams,
    * dsir_micro); resample by dsir_micro rank to select.
    * Eager: the call runs one collect of the weight table, caching both
    * model tables for it only, so no persisted RDD outlives the call.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 256): DataFrame = {
    require(nBuckets > 0 && nBuckets <= 65536, s"nBuckets $nBuckets out of range")
    val bucketExpr =
      s"""CAST(conv(substring(md5(concat(graft_ws[i], ' ', graft_ws[i + 1])), 1, 12), 16, 10) AS BIGINT) % $nBuckets"""
    def bucketed(df: DataFrame) = df
      .select(col(idCol).as("id"), split(col(textCol), " ").as("graft_ws"))
      .filter(size(col("graft_ws")) >= 2)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(graft_ws) - 2), i -> $bucketExpr)")).as("bucket"))
    // per-corpus bucket counts — bounded tables (<= nBuckets rows), each
    // feeding the totals agg and the weight join of the collect below
    def model(b: DataFrame, cName: String) =
      b.groupBy(col("bucket")).agg(count(lit(1)).as(cName))
    val tgt = model(bucketed(target), "c_t").persist()
    val rawM = model(bucketed(raw), "c_r").persist()
    val totals = tgt.agg(sum(col("c_t")).as("n_t")).crossJoin(rawM.agg(sum(col("c_r")).as("n_r")))
    // add-one smoothed log-ratio per bucket in micro-nats, rounded once
    val weights = rawM.join(tgt, Seq("bucket"), "full")
      .select(col("bucket"), coalesce(col("c_t"), lit(0L)).as("c_t"),
        coalesce(col("c_r"), lit(0L)).as("c_r"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"), expr(
        s"""CAST(round(ln(CAST((c_t + 1) * (n_r + $nBuckets) AS DOUBLE) /
           |              CAST((c_r + 1) * (n_t + $nBuckets) AS DOUBLE)) * 1000000.0) AS BIGINT)"""
          .stripMargin).as("graft_w"))
    // the weight table is nBuckets-BOUNDED (a parameter, <= 65536) — it
    // collects to a map literal (the denseMaskDocs vocab-literal
    // pattern) and the per-doc scoring pass runs IN-ROW: one narrow
    // scan of `raw`, zero shuffles, where the old shape persisted a
    // corpus-POSITIONS-sized exploded bigram frame (the documented
    // 100-TB anti-pattern) and shuffled it by doc id. Every raw bucket
    // is present in the map (the full join keeps the c_r side), so the
    // lookup is total; integer sums are order-free, so dsir_micro is
    // identical.
    val wmap = typedLit(
      try weights.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally { tgt.unpersist(); rawM.unpersist() })
    raw.select(col(idCol).as("id"), split(col(textCol), " ").as("graft_ws"))
      .filter(size(col("graft_ws")) >= 2)
      .withColumn("graft_wm", wmap)
      .select(col("id"),
        (size(col("graft_ws")) - 1).cast("long").as("n_bigrams"),
        expr(s"""aggregate(sequence(0, size(graft_ws) - 2), 0L,
                |  (acc, i) -> acc + element_at(graft_wm, $bucketExpr))"""
          .stripMargin).as("dsir_micro"))
  }

  /** Pairwise source divergence — count-weighted log-likelihood-ratio
    * (≈ n·KL) between every pair of sources' add-one-smoothed unigram
    * distributions, the corpus-similarity matrix that informs mixture
    * design (near-zero divergence → redundant sources; large asymmetry
    * → one source covers the other's vocabulary but not vice versa).
    * Each distinct (word, pair) term is ln of an integer ratio rounded
    * ONCE to micro-nats (the q102/q114 discipline), then summed as
    * BIGINTs weighted by the a-side count — order-independent and
    * engine-exact. Scale shape: one token pass collapses to per-source
    * word counts (map-side combinable; post-shuffle volume = vocab ×
    * sources); the pair expansion joins per-distinct-word, so cost is
    * vocab-bounded, never corpus-bounded. Output: (src_a, src_b,
    * n_terms, div_micro).
    */
  def sourceDivergence(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(srcCol).as("source"), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    // feeds totals, the vocab grid, and the a-side — persist the one
    // corpus-derived table. Cache lifecycle: [[CacheRegistry]].
    val counts = CacheRegistry.persist(
      toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val vocab = counts.select(col("w")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("graft_v"))
    val grid = vocab
      .crossJoin(broadcast(totals.select(col("source").as("src_b"), col("n").as("n_b"))))
      .join(counts.select(col("source").as("src_b"), col("w"), col("c").as("c_b")),
        Seq("src_b", "w"), "left")
      .select(col("src_b"), col("w"), col("n_b"), coalesce(col("c_b"), lit(0L)).as("c_b"))
    val aSide = counts.select(col("source").as("src_a"), col("w"), col("c").as("c_a"))
      .join(broadcast(totals.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
    aSide.join(grid, Seq("w")).filter(col("src_a") =!= col("src_b"))
      .crossJoin(broadcast(vsize))
      .select(col("src_a"), col("src_b"), col("c_a"),
        expr("""CAST(round(ln(CAST((c_a + 1) * (n_b + graft_v) AS DOUBLE) /
               |               CAST((c_b + 1) * (n_a + graft_v) AS DOUBLE)) * 1000000.0) AS BIGINT)"""
          .stripMargin).as("graft_t"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c_a") * col("graft_t")).as("div_micro"))
  }

  /** Pairwise source VOCABULARY overlap — exact token-set Jaccard
    * between every ordered source pair, the set-theoretic complement of
    * [[sourceDivergence]]'s distributional view: divergence weighs HOW
    * OFTEN words occur, this measures WHICH words exist at all — high
    * Jaccard with high divergence means shared vocabulary used very
    * differently (e.g. code vs prose quoting code). Zero-overlap pairs
    * are kept (n_inter = 0), so the output is the full |S|·(|S|−1)/2
    * matrix.
    *
    * Scale shape: one (source, token) distinct collapse (map-side
    * combinable, post-shuffle = per-source vocab), per-source sizes are
    * |S| rows, and the intersection self-join is keyed by token where
    * each token carries ≤ |S| rows — cost is vocab-bounded, never
    * corpus-bounded; the size join is broadcast-small. Output:
    * (src_a, src_b, n_inter, n_union, jaccard_bp), src_a < src_b.
    */
  def sourceTokenJaccard(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val st = CacheRegistry.persist(
      df.select(col(srcCol).as("s"), explode(split(col(textCol), " ")).as("w"))
        .filter(col("w") =!= "").distinct())
    // sizes over ALL sources present in df, not just token-bearing ones
    // — a source whose texts are all empty still appears in every pair
    // (n = 0), keeping the full-matrix contract honest
    val sizes = df.select(col(srcCol).as("s")).distinct()
      .join(st.groupBy(col("s")).agg(count(lit(1)).as("graft_c")), Seq("s"), "left")
      .select(col("s"), coalesce(col("graft_c"), lit(0L)).as("n"))
    val pairs = sizes.select(col("s").as("src_a"), col("n").as("n_a"))
      .join(sizes.select(col("s").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    val inter = st.select(col("s").as("src_a"), col("w"))
      .join(st.select(col("s").as("src_b"), col("w")), Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("graft_i"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("graft_i"), lit(0L)).as("n_inter"),
        (col("n_a") + col("n_b") - coalesce(col("graft_i"), lit(0L))).as("n_union"))
      // two empty vocabularies are identical sets → J = 1 (and no ÷0)
      .withColumn("jaccard_bp", expr(
        "CASE WHEN n_union = 0 THEN 10000 " +
          "ELSE (20000 * n_inter + n_union) DIV (2 * n_union) END"))
  }

  /** Per-source out-of-vocabulary report against the corpus's own top-V
    * vocabulary — the tokenizer-planning view: a source whose OOV rate
    * is high under the corpus-global vocabulary will fragment into
    * bytes/unknowns under a tokenizer trained on that corpus mix, and
    * its `n_oov_types` says whether the mass is a few frequent unknowns
    * (extend the vocab) or a long tail (re-balance the mix). Top-V =
    * the V most frequent tokens, ties broken by token asc, selected via
    * distributed top-k (TakeOrdered — no global sort, no single-reducer
    * window). Occurrence counts, not distinct: the rate weighs actual
    * token mass.
    *
    * Scale shape: one (source, token) count agg (map-side combinable,
    * post-shuffle = per-source vocab), a vocab-bounded global count for
    * the top-V, and a vocab-keyed left join — never corpus-bounded.
    * Output: (source, n_tokens, n_oov_tokens, oov_bp HALF_UP,
    * n_oov_types).
    */
  def oovReport(df: DataFrame, srcCol: String, textCol: String,
                vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val st = CacheRegistry.persist(
      df.select(col(srcCol).as("source"), explode(split(col(textCol), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("graft_c")))
    val topv = st.groupBy(col("w")).agg(sum(col("graft_c")).as("graft_tc"))
      .orderBy(col("graft_tc").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(1L).as("graft_iv"))
    st.join(topv, Seq("w"), "left")
      .groupBy(col("source"))
      .agg(
        sum(col("graft_c")).as("n_tokens"),
        coalesce(sum(when(col("graft_iv").isNull, col("graft_c"))), lit(0L))
          .as("n_oov_tokens"),
        count(when(col("graft_iv").isNull, col("w"))).as("n_oov_types"))
      .select(col("source"), col("n_tokens"), col("n_oov_tokens"),
        expr("(20000 * n_oov_tokens + n_tokens) DIV (2 * n_tokens)").as("oov_bp"),
        col("n_oov_types"))
  }

  /** Cross-document winnowing matches — the MOSS detector itself: every
    * document pair sharing at least `minShared` distinct winnowing
    * fingerprints, with the shared count. The winnowing guarantee makes
    * this sound: any run of w+k−1 common words forces a common
    * fingerprint, so true overlapping pairs MUST collide in the
    * fingerprint buckets — candidate generation is a fingerprint-keyed
    * join (pairwise work = Σ bucket², like LSH banding), never
    * all-pairs. Output: (id_a, id_b, n_shared).
    */
  def winnowingMatches(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 2L): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    val parts = (0 until k)
      .map(o => if (o == 0) "ws[i]" else s"ws[i+$o]").mkString(", ' ', ")
    // per-doc DISTINCT fingerprints, all in-row; feeds both join sides.
    // Cache lifecycle: [[CacheRegistry]] — release after materializing.
    val fps = CacheRegistry.persist(
      df.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
        .filter(size(col("ws")) >= k)
        .select(col("id"), expr(
          s"transform(transform(sequence(0, size(ws) - $k), i -> concat($parts)), g -> md5(g))")
          .as("hs"))
        .select(col("id"), expr(
          s"""CASE WHEN size(hs) >= $w
             |  THEN transform(sequence(0, size(hs) - $w),
             |         j -> array_min(slice(hs, j + 1, $w)))
             |  ELSE array(array_min(hs)) END""".stripMargin).as("mins"))
        .select(col("id"), explode(array_distinct(col("mins"))).as("fp")))
    fps.select(col("fp"), col("id").as("id_a"))
      .join(fps.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-split contamination via winnowing fingerprints — the
    * leakage audit run AFTER a split ships: for every non-train
    * document, how many distinct winnowing fingerprints it shares with
    * the train side, and with how many distinct train documents. The
    * winnowing guarantee ([[winnowingFingerprints]]) makes a miss
    * meaningful: any shared run of w+k−1 words between an eval doc and
    * any train doc FORCES a shared fingerprint, so this catches
    * paraphrase-adjacent leakage that exact/doc-level dedup misses and
    * [[crossNgramOverlap]] only sees at the n-gram level. Split = the
    * [[Curation.assignSplit]] seeded md5 bucket.
    *
    * Scale shape: fingerprints are in-row (no explode until the distinct
    * fp stream); the contaminating join is fingerprint-keyed (pairwise
    * volume = Σ per-fp train×eval, the LSH-banding bound), and the
    * output is eval-bounded. Output: (id, n_shared_fps, n_train_docs)
    * for eval docs with ≥ `minShared` shared fingerprints.
    */
  def fingerprintContamination(df: DataFrame, idCol: String, textCol: String,
      seed: String, trainPct: Int, k: Int = 4, w: Int = 4,
      minShared: Long = 2L): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    val parts = (0 until k)
      .map(o => if (o == 0) "ws[i]" else s"ws[i+$o]").mkString(", ' ', ")
    val withSplit = Curation.assignSplit(
      df.select(col(idCol).as("id"), col(textCol).as("graft_t")),
      "id", seed, trainPct, 100 - trainPct)
    // per-doc DISTINCT fingerprints (in-row winnowing); feeds both the
    // train and eval sides. Cache lifecycle: [[CacheRegistry]].
    val fps = CacheRegistry.persist(withSplit
      .select(col("id"), col("split"), split(col("graft_t"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("id"), col("split"), expr(
        s"transform(transform(sequence(0, size(ws) - $k), i -> concat($parts)), g -> md5(g))")
        .as("hs"))
      .select(col("id"), col("split"), expr(
        s"""CASE WHEN size(hs) >= $w
           |  THEN transform(sequence(0, size(hs) - $w),
           |         j -> array_min(slice(hs, j + 1, $w)))
           |  ELSE array(array_min(hs)) END""".stripMargin).as("mins"))
      .select(col("id"), col("split"), explode(array_distinct(col("mins"))).as("fp")))
    val train = fps.filter(col("split") === "train")
      .select(col("fp"), col("id").as("graft_tid"))
    val eval_ = fps.filter(col("split") =!= "train")
      .select(col("fp"), col("id"))
    eval_.join(train, Seq("fp"))
      .groupBy(col("id"))
      .agg(countDistinct(col("fp")).as("n_shared_fps"),
        countDistinct(col("graft_tid")).as("n_train_docs"))
      .filter(col("n_shared_fps") >= minShared)
  }

  /** Collocation mining by pointwise mutual information — the
    * word2phrase step that promotes high-PMI adjacent pairs ("new
    * york") into single tokenizer/phrase-vocab units. PMI =
    * ln(p(w₁w₂) / (p(w₁)p(w₂))) = ln(c₁₂·T² / (B·c₁·c₂)) over exact
    * integer counts (T tokens, B bigrams corpus-wide), rounded ONCE to
    * integer micro-nats — engine-exact (the q102/q114 ln discipline).
    * Pairs below `minCount` drop (PMI is noise at tiny counts); output
    * is the top `k` by (PMI desc, pair asc).
    *
    * Scale shape: two map-side-combinable count aggregations (bigrams,
    * unigrams), two vocab-keyed joins to attach c₁/c₂, one broadcast of
    * the 1-row totals, and a TakeOrdered top-k — post-shuffle volume is
    * vocab-shaped, never corpus-shaped. Output: (w1, w2, n_pair,
    * pmi_micro).
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
      k: Int = 20): DataFrame = {
    val words = df.select(split(col(textCol), " ").as("graft_ws"))
    val toks = words.select(explode(col("graft_ws")).as("w")).filter(col("w") =!= "")
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = words.filter(size(col("graft_ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(graft_ws) - 2),
          |  i -> struct(graft_ws[i] AS w1, graft_ws[i + 1] AS w2))""".stripMargin)).as("p"))
      .filter(col("p.w1") =!= "" && col("p.w2") =!= "")
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    // B = ALL adjacent pairs (pre-minCount) so probabilities stay honest
    val totals = uni.agg(sum(col("c")).as("graft_t")).crossJoin(
      words.filter(size(col("graft_ws")) >= 2)
        .select((size(col("graft_ws")) - 1).cast("long").as("nb"))
        .agg(sum(col("nb")).as("graft_b")))
    bi.join(uni.select(col("w").as("w1"), col("c").as("graft_c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("graft_c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        expr("""CAST(round(ln(CAST(n_pair AS DOUBLE) * CAST(graft_t AS DOUBLE) * CAST(graft_t AS DOUBLE)
               |            / (CAST(graft_b AS DOUBLE) * CAST(graft_c1 AS DOUBLE) * CAST(graft_c2 AS DOUBLE)))
               |     * 1000000.0) AS BIGINT)""".stripMargin).as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Distinctive vocabulary per source — Dirichlet-smoothed log-odds of
    * each token in a source vs the REST of the corpus (Monroe, Colaresi
    * & Quinn 2008, "Fightin' Words"), the standard report for "what
    * makes this source different" before mixture design. With α = 1:
    * δ = ln[(c_s+1)(n_r−c_r+V−1) / ((n_s−c_s+V−1)(c_r+1))], all-integer
    * argument products (exact in doubles below 2⁵³), rounded ONCE to
    * micro-nats. Emits each source's top `k` tokens by (δ desc, token
    * asc).
    *
    * Scale shape: one (source, token) count agg + one token rollup
    * (both map-side combinable), bounded totals broadcast, and the
    * top-k window runs over source×vocab — never the corpus. Output:
    * (source, token, n_in_source, delta_micro).
    */
  def distinctiveTerms(df: DataFrame, srcCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val toks = df.select(col(srcCol).as("source"),
      explode(split(col(textCol), " ")).as("w")).filter(col("w") =!= "")
    // feeds the per-source counts, the token rollup, and the totals —
    // persist the one shuffle. Cache lifecycle: [[CacheRegistry]].
    val sc = CacheRegistry.persist(
      toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_s")))
    val tokTot = sc.groupBy(col("w")).agg(sum(col("c_s")).as("graft_cw"))
    val srcTot = sc.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val vTot = tokTot.agg(count(lit(1)).as("graft_v"), sum(col("graft_cw")).as("graft_n"))
    val scored = sc
      // tokTot is per-DISTINCT-TOKEN — vocabulary-sized, not bounded;
      // a forced broadcast collects the whole vocabulary to the driver.
      // Leave the strategy to the planner/AQE.
      .join(tokTot, Seq("w"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(vTot))
      .select(col("source"), col("w"), col("c_s"),
        expr("""CAST(round(ln(
               |  (CAST(c_s + 1 AS DOUBLE) * CAST((graft_n - n_s) - (graft_cw - c_s) + graft_v - 1 AS DOUBLE))
               |  / (CAST(n_s - c_s + graft_v - 1 AS DOUBLE) * CAST((graft_cw - c_s) + 1 AS DOUBLE)))
               |  * 1000000.0) AS BIGINT)""".stripMargin).as("delta_micro"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("delta_micro").desc, col("w"))
    scored.withColumn("graft_rn", row_number().over(w)).filter(col("graft_rn") <= k)
      .select(col("source"), col("w").as("token"), col("c_s").as("n_in_source"),
        col("delta_micro"))
  }

  /** Model-based quality filtering with a hashed-feature linear
    * classifier — the fastText-style scorer the GPT-3/LLaMA pipelines
    * run over every crawl document (score against a Wikipedia-vs-crawl
    * model, keep by threshold). Features are md5-hashed token buckets
    * (the hashing trick — no vocabulary ships with the model); the
    * weight vector is bounded (`nBuckets` entries) and rides into the
    * plan as a literal, so scoring is a narrow codegen'd scan — ZERO
    * shuffles at any corpus size. Weights here are md5-derived integers
    * (deterministic stand-ins for trained weights — the plumbing is the
    * operator; swap the literal for a trained vector in production), so
    * scores are integer-exact on any engine. Output: (id, score,
    * pred_keep).
    */
  def hashedClassifier(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 64): DataFrame = {
    require(nBuckets > 0 && nBuckets <= 65536, s"nBuckets $nBuckets out of range")
    // weight(b) = first md5 hex digit of "w:b" minus 8 — in [-8, 7],
    // computed on the driver with the same md5 the SQL engines evaluate
    // (the [[Similarity.lshBucket]] plane-literal pattern)
    val weights = Array.tabulate(nBuckets) { b =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w:$b".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ((d(0) >> 4) & 0xf).toLong - 8L
    }
    val w = typedLit(weights)
    val perTok = transform(split(col(textCol), " "), t =>
      element_at(w,
        (conv(substring(md5(t), 1, 12), 16, 10).cast("long") % nBuckets).cast("int") + 1))
    df.select(col(idCol).as("id"),
        aggregate(perTok, lit(0L), (acc, v) => acc + v).as("score"))
      .withColumn("pred_keep", (col("score") >= 0L).cast("long"))
  }

  /** Multinomial Naive Bayes TRAINER over hashed token features — the
    * missing half of the classifier story (the library evaluated
    * classifiers — q122 scoring, q157 calibration, q189 AUC — but never
    * trained one distributed). The standard distillation move a 100-TB
    * pipeline runs: fit a cheap generative model to an expensive
    * labeler's verdicts (here any 0/1 `labelCol`, e.g. the Gopher rule
    * battery), then score the corpus with the model instead of the
    * labeler.
    *
    * Training IS aggregation — the NB sufficient statistics are one
    * map-side-combinable (bucket, class) token count — so the trainer
    * is a single shuffle of vocabulary-bounded width regardless of
    * corpus size. Per bucket b with Laplace α = 1:
    * ll(c, b) = ln((count(c,b) + 1)/(tot(c) + B)) and the emitted
    * discriminative weight w = ll(1,b) − ll(0,b), every ln
    * once-rounded to integer micro-nats (the lmScore idiom) so the
    * model replays exactly on any engine. Buckets are the q122 md5
    * hash (`md5(tok) first-12-hex % B`) — no vocabulary ships.
    * Output: (bucket 0..nBuckets−1, c_pos, c_neg, w_micro), absent
    * buckets present with zero counts.
    */
  def nbTrainWeights(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, nBuckets: Int = 64): DataFrame = {
    require(nBuckets > 0 && nBuckets <= 65536, s"nBuckets $nBuckets out of range")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(col(labelCol).cast("long").as("graft_y"),
        explode(split(col(textCol), " ")).as("graft_tok"))
      .filter(length(col("graft_tok")) > 0)
      .withColumn("bucket",
        conv(substring(md5(col("graft_tok")), 1, 12), 16, 10)
          .cast("long") % nBuckets)
      .groupBy(col("bucket"))
      .agg(sum(when(col("graft_y") === 1L, 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("graft_y") === 0L, 1L).otherwise(0L)).as("c_neg"))
    val tot = counts.agg(
      coalesce(sum(col("c_pos")), lit(0L)).as("graft_tp"),
      coalesce(sum(col("c_neg")), lit(0L)).as("graft_tn"))
    def lnr(x: String) =
      s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000.0) AS BIGINT)"
    (0L until nBuckets.toLong).toDF("bucket")
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("c_pos"), lit(0L)).as("c_pos"),
        coalesce(col("c_neg"), lit(0L)).as("c_neg"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("c_pos"), col("c_neg"),
        expr(s"(${lnr("c_pos + 1")} - ${lnr(s"graft_tp + $nBuckets")}) - " +
          s"(${lnr("c_neg + 1")} - ${lnr(s"graft_tn + $nBuckets")})")
          .as("w_micro"))
  }

  /** Score documents with a trained [[nbTrainWeights]] model: per doc,
    * the NB log-odds in micro-nats = biasMicro (the log prior ratio;
    * 0 drops it — rank/AUC invariant) + Σ over token OCCURRENCES of
    * the token's bucket weight. The weight table is bounded
    * (`nBuckets` rows) and rides as a literal — scoring is a narrow
    * zero-shuffle codegen scan, the hashedClassifier shape with
    * trained weights in the literal slot. Output: (id, score_micro,
    * pred_keep = score ≥ 0).
    */
  def nbScore(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, nBuckets: Int = 64,
      biasMicro: Long = 0L): DataFrame = {
    val w = weights.select(col("bucket"), col("w_micro")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(w.length == nBuckets && w.map(_._1).toSeq == (0L until nBuckets.toLong),
      s"weights must cover buckets 0..${nBuckets - 1} exactly, got ${w.length} rows")
    val wLit = typedLit(w.map(_._2).toSeq)
    val perTok = transform(
      filter(split(col(textCol), " "), t => t =!= lit("")),
      t => element_at(wLit,
        (conv(substring(md5(t), 1, 12), 16, 10).cast("long") % nBuckets)
          .cast("int") + 1))
    df.select(col(idCol).as("id"),
        (aggregate(perTok, lit(0L), (acc, v) => acc + v) + lit(biasMicro))
          .as("score_micro"))
      .withColumn("pred_keep", (col("score_micro") >= 0L).cast("long"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer SEEDING — the second
    * of the two tokenizer families real pipelines ship (BPE trains by
    * merges, q120/q171; unigram trains by pruning a substring
    * candidate pool under a unigram language model, Kudo 2018). This
    * is the deterministic initialization round: candidate pieces =
    * every word substring of length ≤ `maxPiece`, scored by corpus
    * occurrence count (occurrences weighted by word frequency,
    * overlaps counted); the vocabulary keeps ALL single characters
    * (coverage guarantee — Viterbi segmentation can never dead-end)
    * plus the top (vocabSize − #chars) multi-character pieces by
    * (count desc, piece asc). Piece cost = −ln p in once-rounded
    * integer micro-nats: cost = lnr(Σ cnt over selected) − lnr(cnt).
    *
    * Scale shape: word vocabulary = one count aggregation; substring
    * expansion is in-row over the VOCABULARY (≤ len·maxPiece pieces
    * per distinct word, never per corpus row); the top-K is a
    * distributed TakeOrdered. Output: (piece, cnt, cost_micro).
    */
  def unigramSeedVocab(df: DataFrame, textCol: String, vocabSize: Int = 48,
                       maxPiece: Int = 4): DataFrame =
    seedVocabFromWords(df
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f")),
      vocabSize, maxPiece)

  /** [[unigramSeedVocab]] over an already-aggregated (w, f) word-count
    * frame — the EM trainers hand in their persisted word frame so the
    * seed's substring expansion reads the cache instead of re-running
    * the corpus tokenize+aggregate a second time (one fewer full-corpus
    * pass per training call; outputs are identical by construction).
    */
  private def seedVocabFromWords(words: DataFrame, vocabSize: Int,
                                 maxPiece: Int): DataFrame = {
    require(vocabSize >= 1 && maxPiece >= 1, "vocabSize and maxPiece must be >= 1")
    val subs = CacheRegistry.persist(words
      .select(col("f"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), i ->
           |  transform(sequence(i, least(i + ${maxPiece - 1}, length(w))), k ->
           |    substring(w, i, k - i + 1))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt")))
    val chars = subs.filter(length(col("piece")) === 1)
    // alphabet-bounded count (driver scalar, like a codebook size)
    val nChars = chars.count()
    val kMulti = math.max(0L, vocabSize.toLong - nChars).toInt
    val sel = CacheRegistry.persist(chars.unionAll(
      subs.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(kMulti)))
    val tot = sel.agg(sum(col("cnt")).as("graft_t"))
    def lnr(x: String) =
      s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000.0) AS BIGINT)"
    sel.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        expr(s"${lnr("graft_t")} - ${lnr("cnt")}").as("cost_micro"))
  }

  /** Viterbi-segment every document against a [[unigramSeedVocab]]
    * vocabulary and report per-doc tokenizer fertility — the number
    * every tokenizer evaluation leads with (pieces per word; lower =
    * better compression). The DP per word runs IN-ROW with the
    * vocabulary riding as a map literal: state at position p is ONE
    * BIGINT key = best_cost_micro·10⁵ + best_n_pieces (n ≤ word length
    * ≪ 10⁵, so integer `min` over keys IS the lexicographic
    * (cost, pieces) minimum, and extending a segmentation by piece s
    * is just key + cost(s)·10⁵ + 1) — zero shuffles, no UDF, and the
    * same arithmetic replays level-by-level in SQL. Single-character
    * coverage makes the DP total for any word over the training
    * alphabet. An UNSEEN character (alphabet drift — scoring a corpus
    * the vocab wasn't trained on): with `unkCostMicro = None` the
    * word's key is NULL and the document's totals NULL with it
    * (same-corpus eval, the strict default); with `Some(c)` the
    * character segments as its own piece at escape cost `c` micro-nats
    * — the SentencePiece byte-fallback analog, making cross-corpus
    * scoring total (pick c above the trained piece costs so fallback
    * never outbids a real piece). Output: (id, n_words, n_pieces,
    * cost_micro, fertility_bp = HALF_UP(10⁴·pieces/words); NULLs when
    * no words).
    */
  def unigramFertility(df: DataFrame, idCol: String, textCol: String,
                       vocab: DataFrame, maxPiece: Int = 4,
                       unkCostMicro: Option[Long] = None): DataFrame = {
    val vm = vocab.select(col("piece"), col("cost_micro")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(vm.nonEmpty && vm.size <= 65536,
      s"vocab must be a bounded piece table, got ${vm.size} entries")
    unkCostMicro.foreach(c => require(c >= 0 && c < Long.MaxValue / 100000L,
      s"unkCostMicro must be a sane micro-nat cost, got $c"))
    val vmap = typedLit(vm)
    // with byte-fallback the j=1 branch is unconditional: an unseen
    // char coalesces to the escape cost instead of NULLing the key
    val oneChar = unkCostMicro match {
      case Some(c) =>
        s"""CASE WHEN j = 1
           |     THEN element_at(acc, p)
           |          + coalesce(element_at(graft_vm, substring(w, p, 1)), ${c}L) * 100000L + 1L""".stripMargin
      case None =>
        s"""CASE WHEN j = 1 AND element_at(graft_vm, substring(w, p, 1)) IS NOT NULL
           |     THEN element_at(acc, p)
           |          + element_at(graft_vm, substring(w, p, 1)) * 100000L + 1L""".stripMargin
    }
    val dpKey =
      s"""aggregate(sequence(1, length(w)), array(CAST(0 AS BIGINT)),
         |  (acc, p) -> concat(acc, array(
         |    array_min(filter(transform(sequence(1, $maxPiece), j ->
         |      $oneChar
         |           WHEN j > 1 AND j <= p AND element_at(graft_vm, substring(w, p - j + 1, j)) IS NOT NULL
         |           THEN element_at(acc, p - j + 1)
         |                + element_at(graft_vm, substring(w, p - j + 1, j)) * 100000L + 1L
         |           ELSE CAST(NULL AS BIGINT) END), x -> x IS NOT NULL)))),
         |  acc -> element_at(acc, -1))""".stripMargin
    df.select(col(idCol).as("id"),
        filter(split(col(textCol), " "), w => w =!= lit("")).as("graft_ws"))
      .withColumn("graft_vm", vmap)
      .withColumn("graft_keys", expr(
        s"transform(graft_ws, w -> $dpKey)"))
      .select(col("id"),
        size(col("graft_ws")).cast("long").as("n_words"),
        expr("aggregate(graft_keys, CAST(0 AS BIGINT), (a, k) -> a + k % 100000L)")
          .as("n_pieces"),
        expr("aggregate(graft_keys, CAST(0 AS BIGINT), (a, k) -> a + k DIV 100000L)")
          .as("cost_micro"))
      .withColumn("fertility_bp", expr(
        "CASE WHEN n_words > 0 THEN (20000 * n_pieces + n_words) DIV (2 * n_words) END"))
  }

  /** Unigram-LM EM TRAINING (the Kudo 2018 loop [[unigramSeedVocab]]
    * only initializes): seed an over-sized candidate pool
    * (`vocabSize · seedMultiplier`), then for a fixed deterministic
    * number of rounds (1) E-step — Viterbi-segment every distinct word
    * under the current piece costs and take the frequency-weighted
    * piece counts of the best segmentations (hard EM: the Viterbi path
    * stands in for the forward-backward expectations — deterministic
    * and integer-exact where the soft posteriors are not), (2) prune —
    * keep every single-character piece (the coverage guarantee) plus
    * the top multi-character pieces by (count desc, piece asc), the
    * cap shrinking linearly from the seed surplus to the target so the
    * pool anneals instead of cliff-dropping, and (3) M-step — re-cost
    * the survivors as once-rounded micro-nats of their count share,
    * cost = lnr(Σ greatest(cnt,1)) − lnr(greatest(cnt,1)) (the
    * greatest() floor keeps unused-but-kept chars finite).
    *
    * The CANONICAL Viterbi segmentation (what makes the E-step replay
    * level-by-level in SQL): the DP state is the q270 BIGINT key
    * (cost_micro·10⁵ + n_pieces, integer min = lexicographic optimum)
    * computed over SUFFIXES, and the path is recovered WITHOUT
    * backpointers — position p takes the SMALLEST j whose piece is in
    * vocab and satisfies e(p) = cost·10⁵ + 1 + e(p+j), which is a
    * per-position local test against the suffix array, so the whole
    * segmentation (DP, argmin, walk) runs IN-ROW per distinct word
    * with the vocabulary riding as a map literal — zero shuffles
    * beyond the word-count and piece-count aggregations.
    *
    * Scale shape: each round is ONE distributed pass over the DISTINCT
    * word frame (corpus tokens collapse first — the bpeTrain
    * judgment) plus a vocabulary-bounded driver collect for the prune/
    * re-cost (≤ 65536 pieces, the [[unigramFertility]] contract); the
    * seed substring expansion is [[unigramSeedVocab]]'s. Output:
    * (piece, cnt, cost_micro) — cnt is the final E-step count (0 for
    * kept-but-unused chars).
    */
  def unigramTrainVocab(df: DataFrame, textCol: String, vocabSize: Int = 48,
                        maxPiece: Int = 4, iters: Int = 2,
                        seedMultiplier: Int = 2): DataFrame = {
    require(vocabSize >= 1 && maxPiece >= 1, "vocabSize and maxPiece must be >= 1")
    require(iters >= 1 && iters <= 8, s"iters must be in [1, 8], got $iters")
    require(seedMultiplier >= 1, s"seedMultiplier must be >= 1, got $seedMultiplier")
    val spark = df.sparkSession
    val words = CacheRegistry.persist(df
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f")))
    val seed = seedVocabFromWords(words, vocabSize * seedMultiplier, maxPiece)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(seed.nonEmpty && seed.length <= 65536,
      s"vocab must stay bounded, got ${seed.length} seed pieces")
    val nChars = seed.count(_._1.length == 1)
    implicit val utf8: Ordering[String] = graft.core.Utf8Order.stringOrdering
    def lnr(x: Long): Long =
      new java.math.BigDecimal(math.log(x.toDouble) * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    var vocab: Seq[(String, Long, Long)] = seed.toSeq
    for (r <- 1 to iters) {
      // E-step: one distributed pass — per distinct word, the canonical
      // Viterbi pieces under the current costs, count-weighted by f
      val vm = typedLit(vocab.map(v => v._1 -> v._3).toMap)
      val counts = withViterbiPieces(
          words.withColumn("graft_vm", vm), "w", maxPiece)
        .select(col("f"), explode(col("graft_ps")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      // prune: chars always survive; multi cap anneals linearly down to
      // the target (the seed surplus vocabSize·(mult−1) is corpus-
      // independent, so the cap formula replays as literal arithmetic)
      val cap = (vocabSize - nChars) +
        (vocabSize.toLong * (seedMultiplier - 1) * (iters - r) / iters).toInt
      val counted = vocab.map { case (p, _, _) => (p, counts.getOrElse(p, 0L)) }
      val kept = counted.filter(_._1.length == 1) ++
        counted.filter(_._1.length > 1)
          .sortBy { case (p, c) => (-c, p) }(Ordering.Tuple2(implicitly, utf8))
          .take(math.max(cap, 0))
      // M-step: micro-nat costs from the kept counts
      val t = kept.map { case (_, c) => math.max(c, 1L) }.sum
      vocab = kept.map { case (p, c) => (p, c, lnr(t) - lnr(math.max(c, 1L))) }
    }
    import spark.implicits._
    vocab.toDF("piece", "cnt", "cost_micro")
  }

  /** Unigram-LM SOFT-EM training — the forward-backward E-step Kudo
    * 2018 actually prescribes, where [[unigramTrainVocab]] substitutes
    * hard Viterbi counts: each EM round credits every piece with its
    * POSTERIOR expected count over ALL segmentations of every word,
    * not just the single best path. That is the property subword-
    * regularization pipelines train unigram LMs for — pieces that
    * appear only in near-optimal segmentations keep probability mass
    * and survive pruning where hard counts starve them to zero.
    *
    * The integer-exact replay discipline (the hard trainer's whole
    * point) survives via a bounded-precision log-sum-exp contract:
    *
    *  - masses live in negative-log integer MICRO-NATS; combining two,
    *    `lse(a, b) = least(a,b) − round(10⁶·ln(1 + exp(−|a−b|/10⁶)))`
    *    — the correction term once-rounded per pairwise combine, and
    *    candidate branches folded in ascending piece-length order
    *    (associativity is given up deliberately; the fixed fold order
    *    IS the rounding contract any engine replays bit-for-bit);
    *  - per distinct word, the prefix mass chain F, the suffix chain
    *    B, and the partition mass Z = F(len) are in-row array folds
    *    (zero shuffles — the q270 suffix-DP shape with lse for min);
    *    the piece occupying [p+1, p+j] gets posterior weight
    *    `round(10⁶·exp(−(F(p) + cost + B(len−p−j) − Z)/10⁶))` — a
    *    HALF_UP micro-probability — and contributes f·weight to its
    *    count;
    *  - prune and M-step are [[unigramTrainVocab]]'s verbatim, over
    *    the micro-scaled counts (the 10⁶ factor cancels in the count
    *    share, so costs stay plain micro-nats).
    *
    * Scale shape identical to the hard trainer: one distributed pass
    * over DISTINCT words per round plus a vocabulary-bounded driver
    * prune/re-cost. Training corpora keep every character in vocab
    * (seed + prune coverage guarantee), so F/B are total — no
    * byte-fallback needed inside the loop. Output:
    * (piece, cnt_micro, cost_micro).
    */
  def unigramTrainVocabSoft(df: DataFrame, textCol: String,
                            vocabSize: Int = 48, maxPiece: Int = 4,
                            iters: Int = 2,
                            seedMultiplier: Int = 2): DataFrame = {
    require(vocabSize >= 1 && maxPiece >= 1, "vocabSize and maxPiece must be >= 1")
    require(iters >= 1 && iters <= 8, s"iters must be in [1, 8], got $iters")
    require(seedMultiplier >= 1, s"seedMultiplier must be >= 1, got $seedMultiplier")
    val spark = df.sparkSession
    val words = CacheRegistry.persist(df
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f")))
    val seed = seedVocabFromWords(words, vocabSize * seedMultiplier, maxPiece)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(seed.nonEmpty && seed.length <= 65536,
      s"vocab must stay bounded, got ${seed.length} seed pieces")
    val nChars = seed.count(_._1.length == 1)
    implicit val utf8: Ordering[String] = graft.core.Utf8Order.stringOrdering
    def lnr(x: Long): Long =
      new java.math.BigDecimal(math.log(x.toDouble) * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    var vocab: Seq[(String, Long, Long)] = seed.toSeq
    for (r <- 1 to iters) {
      // E-step: one distributed pass — per distinct word, posterior
      // piece weights from the F/B mass chains, count-weighted by f
      val vm = typedLit(vocab.map(v => v._1 -> v._3).toMap)
      val counts = withSoftPosteriors(
          words.withColumn("graft_vm", vm), "w", maxPiece)
        .groupBy(col("piece")).agg(sum(col("graft_cm")).as("cnt"))
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      // prune + M-step: identical to the hard trainer (annealed cap,
      // chars always survive, micro-nat costs from the count share)
      val cap = (vocabSize - nChars) +
        (vocabSize.toLong * (seedMultiplier - 1) * (iters - r) / iters).toInt
      val counted = vocab.map { case (p, _, _) => (p, counts.getOrElse(p, 0L)) }
      val kept = counted.filter(_._1.length == 1) ++
        counted.filter(_._1.length > 1)
          .sortBy { case (p, c) => (-c, p) }(Ordering.Tuple2(implicitly, utf8))
          .take(math.max(cap, 0))
      val t = kept.map { case (_, c) => math.max(c, 1L) }.sum
      vocab = kept.map { case (p, c) => (p, c, lnr(t) - lnr(math.max(c, 1L))) }
    }
    import spark.implicits._
    vocab.toDF("piece", "cnt_micro", "cost_micro")
  }

  /** The once-rounded pairwise log-sum-exp over negative-log micro-nat
    * masses — [[unigramTrainVocabSoft]]'s rounding contract, as a SQL
    * fragment over two BIGINT expressions (NULL = absent branch).
    */
  private def lse2Sql(a: String, b: String): String =
    s"""CASE WHEN ($a) IS NULL THEN ($b) WHEN ($b) IS NULL THEN ($a)
       |ELSE least($a, $b) - CAST(round(1000000.0 * ln(1.0 + exp(
       |  -CAST(greatest($a, $b) - least($a, $b) AS DOUBLE) / 1000000.0))) AS BIGINT) END"""
      .stripMargin

  /** Per-word posterior piece weights for the soft E-step: input rows
    * carry (`w`, f, graft_vm); output rows are (piece, graft_cm) — one
    * per (position, piece-length) slot whose piece is in vocab, with
    * graft_cm = f · round(10⁶·posterior). Three in-row stages behind
    * the explode-array optimizer barrier (the withViterbiPieces
    * discipline): the prefix mass chain F (index p+1 = mass of the
    * first p chars), the suffix chain B, then the flattened posterior
    * slots. Branch folds run in ascending piece-length order — the
    * documented lse rounding contract.
    */
  /** The lse2 left-fold over a candidate array in ascending piece-
    * length order — the shared mass-combine used by the soft E-step's
    * F/B chains and the sampled-walk suffix chain.
    */
  private def lseFoldSql(cands: String): String =
    s"""aggregate($cands, CAST(NULL AS BIGINT),
       |  (lacc, lx) -> ${lse2Sql("lacc", "lx")})""".stripMargin

  /** Suffix mass chain B as an in-row SQL aggregate: index m+1 = the
    * negative-log micro-nat mass of ALL segmentations of the last m
    * chars of word column `w`, with the piece→cost map riding in
    * `graft_vm`. Branch folds run in ascending piece-length order (the
    * documented lse rounding contract). Shared by
    * [[withSoftPosteriors]] and [[unigramEncodeSampled]].
    */
  private def suffixMassExpr(w: String, maxPiece: Int,
                             unkCostMicro: Option[Long] = None): String = {
    // j = 1 leg, fallback-aware (the withViterbiPieces oneCost analog):
    // with Some(c), an unseen character masses at the escape cost and
    // the chain is total; with None it stays NULL (strict mode)
    val oneCost = unkCostMicro match {
      case Some(c) =>
        s"coalesce(element_at(graft_vm, substring($w, length($w) - m + 1, 1)), ${c}L)"
      case None => s"element_at(graft_vm, substring($w, length($w) - m + 1, 1))"
    }
    s"""aggregate(sequence(1, length($w)),
       |  CAST(array(CAST(0 AS BIGINT)) AS ARRAY<BIGINT>),
       |  (acc, m) -> concat(acc, array(
       |    ${lseFoldSql(s"""filter(transform(sequence(1, $maxPiece), j ->
       |      CASE WHEN j = 1 THEN element_at(acc, m) + $oneCost
       |           WHEN j <= m AND element_at(graft_vm, substring($w, length($w) - m + 1, j)) IS NOT NULL
       |           THEN element_at(acc, m - j + 1)
       |                + element_at(graft_vm, substring($w, length($w) - m + 1, j))
       |           ELSE CAST(NULL AS BIGINT) END), x -> x IS NOT NULL)""")})))""".stripMargin
  }

  private def withSoftPosteriors(df: DataFrame, w: String,
                                 maxPiece: Int): DataFrame = {
    val fExpr =
      s"""aggregate(sequence(1, length($w)),
         |  CAST(array(CAST(0 AS BIGINT)) AS ARRAY<BIGINT>),
         |  (acc, p) -> concat(acc, array(
         |    ${lseFoldSql(s"""filter(transform(sequence(1, $maxPiece), j ->
         |      CASE WHEN j <= p AND element_at(graft_vm, substring($w, p - j + 1, j)) IS NOT NULL
         |           THEN element_at(acc, p - j + 1)
         |                + element_at(graft_vm, substring($w, p - j + 1, j))
         |           ELSE CAST(NULL AS BIGINT) END), x -> x IS NOT NULL)""")})))""".stripMargin
    val bExpr = suffixMassExpr(w, maxPiece)
    val slots =
      s"""filter(flatten(transform(sequence(0, length($w) - 1), p ->
         |  transform(sequence(1, $maxPiece), j ->
         |    CASE WHEN j <= length($w) - p
         |              AND element_at(graft_vm, substring($w, p + 1, j)) IS NOT NULL
         |         THEN named_struct(
         |           'piece', substring($w, p + 1, j),
         |           'wm', CAST(round(1000000.0 * exp(-CAST(
         |             element_at(graft_f, p + 1)
         |             + element_at(graft_vm, substring($w, p + 1, j))
         |             + element_at(graft_b, length($w) - p - j + 1)
         |             - element_at(graft_f, length($w) + 1) AS DOUBLE) / 1000000.0)) AS BIGINT))
         |         ELSE CAST(NULL AS STRUCT<piece: STRING, wm: BIGINT>) END))),
         |  x -> x IS NOT NULL)""".stripMargin
    df.withColumn("graft_f", explode(array(expr(fExpr))))
      .withColumn("graft_b", explode(array(expr(bExpr))))
      .select(col("f"), explode(expr(slots)).as("graft_pw"))
      .select(col("graft_pw.piece").as("piece"),
        (col("f") * col("graft_pw.wm")).as("graft_cm"))
  }

  /** The canonical in-row Viterbi segmentation: adds `graft_ps`
    * (ARRAY<STRING> — the best segmentation's pieces for word column
    * `w`), with the piece→cost map riding in column `graft_vm`. Three
    * in-row stages, each its own column so the optimizer never inlines
    * one aggregate into the next's per-element lambda — the suffix key
    * array e (index m+1 = best key for the last m chars), the per-
    * position smallest optimal piece length j*, and the greedy walk
    * from position 0 — all BIGINT-key arithmetic, replayable level-by-
    * level in SQL (the q270 key packing; see [[unigramTrainVocab]]).
    * With `unkCostMicro = None`, a word containing a character outside
    * the vocabulary gets a NULL full-word key (callers filter on
    * `element_at(graft_e, length(w) + 1) IS NOT NULL`); with `Some(c)`
    * the j = 1 branch coalesces unseen characters to the escape cost
    * (the [[unigramFertility]] byte-fallback analog), making the
    * segmentation total.
    */
  private def withViterbiPieces(df: DataFrame, w: String, maxPiece: Int,
                                unkCostMicro: Option[Long] = None): DataFrame = {
    // the j = 1 leg of the suffix DP / argmin, fallback-aware: cost of
    // the single char at suffix start (position len−m, 0-based p)
    def oneCost(start: String) = unkCostMicro match {
      case Some(c) => s"coalesce(element_at(graft_vm, substring($w, $start, 1)), ${c}L)"
      case None => s"element_at(graft_vm, substring($w, $start, 1))"
    }
    // the fold's buffer takes the ZERO's type, and a bare
    // array(CAST(0 AS BIGINT)) is containsNull=false — a lie once an
    // uncoverable suffix appends a NULL key, which lets the optimizer
    // constant-fold callers' `element_at(graft_e, …) IS NOT NULL`
    // filters to TRUE. The DDL cast declares the honest element
    // nullability (ARRAY<BIGINT> is containsNull=true).
    //
    // explode(array(...)) barrier (the denseJaccardDistinct idiom): the
    // DP rides through a 1-element Generate, so callers' filters and a
    // downstream posexplode's implicit IsNotNull/size constraints bind
    // to the Generate's OUTPUT attribute instead of inlining the whole
    // chain — without it, a filter over this column pushed below the
    // caller's distinct() and re-evaluated the interpreted DP once per
    // CORPUS TOKEN (measured: q286 496 s → ~2 s at sf0.1).
    df.withColumn("graft_e", explode(array(expr(
        s"""aggregate(sequence(1, length($w)),
           |  CAST(array(CAST(0 AS BIGINT)) AS ARRAY<BIGINT>),
           |  (acc, m) -> concat(acc, array(
           |    array_min(filter(transform(sequence(1, $maxPiece), j ->
           |      CASE WHEN j = 1
           |           THEN element_at(acc, m) + ${oneCost(s"length($w) - m + 1")} * 100000L + 1L
           |           WHEN j > 1 AND j <= m
           |                AND element_at(graft_vm, substring($w, length($w) - m + 1, j)) IS NOT NULL
           |           THEN element_at(acc, m - j + 1)
           |                + element_at(graft_vm, substring($w, length($w) - m + 1, j)) * 100000L + 1L
           |           ELSE CAST(NULL AS BIGINT) END), x -> x IS NOT NULL)))))""".stripMargin))))
      .withColumn("graft_js", expr(
        // try_element_at: an uncoverable position (unseen char, no
        // fallback) has an EMPTY candidate list — NULL, not an ANSI
        // index error (callers filter uncoverable words on graft_e)
        s"""transform(sequence(0, length($w) - 1), p ->
           |  try_element_at(filter(transform(sequence(1, $maxPiece), j ->
           |    CASE WHEN j = 1
           |              AND element_at(graft_e, length($w) - p + 1) =
           |                  element_at(graft_e, length($w) - p)
           |                  + ${oneCost("p + 1")} * 100000L + 1L
           |         THEN j
           |         WHEN j > 1 AND j <= length($w) - p
           |              AND element_at(graft_vm, substring($w, p + 1, j)) IS NOT NULL
           |              AND element_at(graft_e, length($w) - p + 1) =
           |                  element_at(graft_e, length($w) - p - j + 1)
           |                  + element_at(graft_vm, substring($w, p + 1, j)) * 100000L + 1L
           |         THEN j ELSE CAST(NULL AS INT) END), x -> x IS NOT NULL), 1))""".stripMargin))
      // the walk rides through the same barrier: a downstream
      // posexplode's implicit IsNotNull/size constraints would
      // otherwise inline the whole walk aggregate into a Filter and
      // evaluate it twice per word
      .withColumn("graft_ps", explode(array(expr(
        s"""aggregate(sequence(1, length($w)),
           |  struct(CAST(0 AS INT) AS p, CAST(array() AS ARRAY<STRING>) AS ps),
           |  (st, x) -> CASE WHEN st.p >= length($w) THEN st
           |    ELSE struct(
           |      CAST(st.p + element_at(graft_js, st.p + 1) AS INT) AS p,
           |      concat(st.ps, array(substring($w, st.p + 1,
           |        element_at(graft_js, st.p + 1)))) AS ps) END,
           |  st -> st.ps)""".stripMargin))))
  }

  /** TOKENIZE with a trained unigram vocabulary — the serving side of
    * [[unigramTrainVocab]] (fertility only COUNTS; a training pipeline
    * needs the actual piece sequence per document). Emits one row per
    * piece of the canonical Viterbi segmentation: (id, word_idx,
    * piece_idx, piece), both indexes 0-based.
    *
    * Scale shape: the DP + walk run once per DISTINCT word (vocab as a
    * map literal, zero shuffles), and the segmentations join back to
    * the corpus tokens by word — corpus-sized work is the token
    * explode and one join, never per-token DP. With `unkCostMicro =
    * None`, words containing characters outside the vocabulary emit NO
    * rows (their full-word key is NULL — filtered explicitly, never a
    * NULL piece); pass `Some(c)` for total cross-corpus encoding with
    * unseen characters as single-char escape pieces.
    */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame, maxPiece: Int = 4,
                    unkCostMicro: Option[Long] = None): DataFrame = {
    val vm = vocab.select(col("piece"), col("cost_micro")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(vm.nonEmpty && vm.size <= 65536,
      s"vocab must be a bounded piece table, got ${vm.size} entries")
    val words = df.select(col(idCol).as("id"),
      posexplode(filter(split(col(textCol), " "), w => w =!= lit("")))
        .as(Seq("word_idx", "w")))
    val segmented = withViterbiPieces(
        words.select(col("w")).distinct().withColumn("graft_vm", typedLit(vm)),
        "w", maxPiece, unkCostMicro)
      .filter(expr("element_at(graft_e, length(w) + 1) IS NOT NULL"))
      .select(col("w"), posexplode(col("graft_ps")).as(Seq("piece_idx", "piece")))
    words.join(segmented, Seq("w"))
      .select(col("id"), col("word_idx").cast("long").as("word_idx"),
        col("piece_idx").cast("long").as("piece_idx"), col("piece"))
  }

  /** SAMPLED tokenization with a trained unigram vocabulary — subword
    * regularization's serving side (Kudo 2018 §3.2: training sees a
    * DIFFERENT segmentation of each occurrence, drawn from the
    * α-annealed posterior p(seg|w)^α, instead of the one canonical
    * Viterbi split [[unigramEncode]] emits). Forward-filtering
    * backward-sampling over the segmentation lattice: the suffix mass
    * chain B (all-segmentations masses under costs pre-scaled by
    * α = alphaNum/alphaDen, HALF_UP micro-nats) prices every branch,
    * and the walk from position 0 picks piece length j with
    * probability ∝ exp(−(cost'(piece) + B[rest-after-j] − B[rest])) —
    * so the draw is EXACTLY p^α over whole segmentations, not a local
    * heuristic. Branch weights round once to micro-units and clamp to
    * ≥ 1 (a documented contract: no representable branch is ever
    * unreachable), the per-step uniform is the 48-bit md5 of
    * (seed, id, word_idx, step) mod 10⁶ — deterministic, engine-exact,
    * and different per OCCURRENCE, which is the whole point of the
    * regularizer — and the pick is the smallest j whose cumulative
    * weight (ascending-j order) strictly exceeds u·total/10⁶. All
    * integer comparisons after the once-rounded exp.
    *
    * Scale shape: the B chain and the position×piece-length weight
    * table build once per DISTINCT word (in-row aggregates behind the
    * explode-array optimizer barrier — the [[withViterbiPieces]]
    * discipline); occurrences join back by word and pay only the
    * O(len·maxPiece) integer walk per token — narrow, zero extra
    * shuffles. With `unkCostMicro = None`, words containing characters
    * outside the vocabulary emit no rows (the [[unigramEncode]]
    * strict-mode semantics); with `Some(c)` unseen characters become
    * single-char escape branches at cost c (α-annealed like every
    * other cost), making cross-corpus sampled encoding total — the
    * [[unigramFertility]] byte-fallback analog. Output:
    * (id, word_idx, piece_idx, piece), indexes 0-based.
    */
  def unigramEncodeSampled(df: DataFrame, idCol: String, textCol: String,
                           vocab: DataFrame, maxPiece: Int = 4,
                           alphaNum: Long = 1L, alphaDen: Long = 1L,
                           seed: String = "sr1",
                           unkCostMicro: Option[Long] = None): DataFrame = {
    require(alphaNum >= 1L && alphaDen >= 1L,
      s"alpha must be a positive rational, got $alphaNum/$alphaDen")
    require(seed.matches("[A-Za-z0-9_.-]+"),
      s"seed rides into a SQL literal — [A-Za-z0-9_.-]+ only, got '$seed'")
    val vm0 = vocab.select(col("piece"), col("cost_micro")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(vm0.nonEmpty && vm0.size <= 65536,
      s"vocab must be a bounded piece table, got ${vm0.size} entries")
    // α-anneal the costs BEFORE the chain (sampling from p^α ≡ masses
    // under α·cost), one HALF_UP rounding per piece — the escape cost
    // anneals with the same formula, so fallback branches compete on
    // the same temperature as real pieces
    def anneal(c: Long): Long = (2L * alphaNum * c + alphaDen) / (2L * alphaDen)
    val vm = vm0.map { case (p, c) => p -> anneal(c) }
    val unkA = unkCostMicro.map(anneal)
    val words = df.select(col(idCol).as("id"),
      posexplode(filter(split(col(textCol), " "), w => w =!= lit("")))
        .as(Seq("word_idx", "w")))
      .withColumn("word_idx", col("word_idx").cast("long"))
    val perWord = words.select(col("w")).distinct()
      .withColumn("graft_vm", typedLit(vm))
      // barrier (the withViterbiPieces discipline): the chain and the
      // weight table ride through 1-element Generates so callers'
      // filters bind to the OUTPUT attribute instead of inlining the
      // interpreted aggregates below the distinct()
      .withColumn("graft_b", explode(array(expr(suffixMassExpr("w", maxPiece, unkA)))))
      .filter(expr("element_at(graft_b, length(w) + 1) IS NOT NULL"))
      .withColumn("graft_wt", explode(array(expr(sampleWeightsExpr("w", maxPiece, unkA)))))
      .select(col("w"), col("graft_wt"))
    // the WALK is row-local imperative arithmetic (sequential state,
    // one md5 + ≤maxPiece compares per step, per OCCURRENCE) — the one
    // place mapPartitions beats expressions: the HOF formulation of
    // this loop measured 3.6× the canonical encode at sf0.1 (8.2 s vs
    // 2.3 s), the typed pass removes the per-step interpreted
    // struct/array churn. The draw contract is IDENTICAL — same
    // digests, same cumulative pick — and the FFBS driver replica in
    // CorpusOpsSpec pins it bit for bit. The hash input uses Spark's
    // own CAST(id AS STRING), computed in-plan, so id-type rendering
    // can never drift between this walk and the SQL oracle.
    val spark = df.sparkSession
    val joined = words.join(perWord, Seq("w"))
      .select(col("id"), col("id").cast("string").as("graft_ids"),
        col("word_idx"), col("w"), col("graft_wt"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        joined.schema("id").dataType, joined.schema("id").nullable),
      org.apache.spark.sql.types.StructField("word_idx",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("piece_idx",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("piece",
        org.apache.spark.sql.types.StringType, nullable = false)))
    val pieces = joined.rdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def u48(s: String): Long = {
        val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      }
      it.flatMap { r =>
        val id = r.get(0)
        val ids = r.getString(1)
        val wi = r.getLong(2)
        val w = r.getString(3)
        val wt = r.getAs[scala.collection.Seq[scala.collection.Seq[java.lang.Long]]](4)
        val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
        var p = 0
        var k = 0
        var pi = 0L
        while (p < w.length) {
          val cums = wt(p)
          val tot = cums(maxPiece).longValue()
          val u = u48(s"$seed:$ids:$wi:$k") % 1000000L
          var j = 1
          var jp = 0
          // smallest j whose cumulative weight strictly exceeds
          // u·total/10⁶ — guaranteed to exist (the last valid cum IS
          // the total and total·10⁶ > u·total for u < 10⁶)
          while (jp == 0 && j <= maxPiece) {
            val c = cums(j - 1)
            if (c != null && c.longValue() * 1000000L > u * tot) jp = j
            j += 1
          }
          // unreachable under the cum==total invariant above — but if
          // the weight-table shape ever drifts, jp==0 would emit an
          // empty piece without advancing p: an infinite executor loop.
          // Turn the invariant violation into a clean task failure.
          require(jp > 0,
            s"sampled-walk invariant violated at word '$w' pos $p: " +
              s"no branch satisfied the cumulative pick (total=$tot)")
          out += org.apache.spark.sql.Row(id, wi, pi, w.substring(p, p + jp))
          p += jp
          k += 1
          pi += 1L
        }
        out
      }
    }
    spark.createDataFrame(pieces, outSchema)
  }

  /** The position × piece-length CUMULATIVE branch-weight table for
    * [[unigramEncodeSampled]]: row p+1 carries maxPiece+1 entries —
    * entry j (1..maxPiece) is the ascending-j cumulative sum of the
    * valid branch weights wm = greatest(1, round(10⁶·exp(−(cost'(piece)
    * + B[rest−j] − B[rest])))) up to and including j when branch j
    * itself is valid (piece in vocab, remainder coverable), else NULL;
    * entry maxPiece+1 is the position's total. Cumulating HERE — once
    * per DISTINCT word — keeps the per-occurrence walk to pure array
    * lookups (the first shipped version re-aggregated the slice per
    * candidate per step and cost 7× the canonical encode at sf0.1).
    * Reads `graft_b` / `graft_vm`.
    */
  private def sampleWeightsExpr(w: String, maxPiece: Int,
                                unkCostMicro: Option[Long] = None): String = {
    // branch cost for piece length jj at position p — with fallback,
    // the single-char leg coalesces to the (α-scaled) escape cost so
    // drifted corpora sample totally (the suffixMassExpr oneCost twin)
    val cost = (jj: String) => unkCostMicro match {
      case Some(c) =>
        s"""CASE WHEN $jj = 1
           |     THEN coalesce(element_at(graft_vm, substring($w, p + 1, 1)), ${c}L)
           |     ELSE element_at(graft_vm, substring($w, p + 1, $jj)) END""".stripMargin
      case None => s"element_at(graft_vm, substring($w, p + 1, $jj))"
    }
    // wm for branch jj at position p, NULL when invalid — inlined into
    // both the per-j cumulative filter and the total
    val wm = (jj: String) =>
      s"""CASE WHEN $jj <= length($w) - p
         |          AND (${cost(jj)}) IS NOT NULL
         |          AND element_at(graft_b, length($w) - p - $jj + 1) IS NOT NULL
         |     THEN greatest(1L, CAST(round(1000000.0 * exp(-CAST(
         |            (${cost(jj)})
         |            + element_at(graft_b, length($w) - p - $jj + 1)
         |            - element_at(graft_b, length($w) - p + 1) AS DOUBLE) / 1000000.0)) AS BIGINT))
         |     ELSE CAST(NULL AS BIGINT) END""".stripMargin
    val cumTo = (hi: String) =>
      s"""aggregate(filter(transform(sequence(1, $hi), jj -> ${wm("jj")}),
         |  x -> x IS NOT NULL), 0L, (a, x) -> a + x)""".stripMargin
    s"""transform(sequence(0, length($w) - 1), p ->
       |  concat(
       |    transform(sequence(1, $maxPiece), j ->
       |      CASE WHEN ${wm("j")} IS NOT NULL THEN ${cumTo("j")}
       |           ELSE CAST(NULL AS BIGINT) END),
       |    array(${cumTo(maxPiece.toString)})))""".stripMargin
  }

  /** Encode round-trip audit — the invariant check a serving tokenizer
    * ships with: reassemble every (id, word_idx) group of an encode
    * output in piece_idx order and compare against the corpus token it
    * came from. Per doc: n_words, n_encoded (words that emitted any
    * pieces), n_mismatch (reassembly ≠ word — MUST be 0; nonzero means
    * a torn vocab artifact or a train/serve maxPiece mismatch).
    * Uncovered words show as n_words − n_encoded (the strict-mode
    * expectation), and n_phantom counts encode groups with NO
    * corresponding corpus word (an emission for a (doc, position) that
    * doesn't exist — a left join from the corpus side would be blind
    * to exactly the wrong-emission class the audit exists to catch, so
    * the join is FULL outer). One corpus explode, one (id, word_idx)-
    * keyed aggregation, one join — all map-side-combinable, no
    * windows. `encoded` carries
    * [[unigramEncode]]/[[unigramEncodeSampled]]'s
    * (id, word_idx, piece_idx, piece).
    */
  def encodeRoundTripAudit(df: DataFrame, idCol: String, textCol: String,
                           encoded: DataFrame): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      posexplode(filter(split(col(textCol), " "), w => w =!= lit("")))
        .as(Seq("word_idx", "w")))
      .withColumn("word_idx", col("word_idx").cast("long"))
    val rebuilt = encoded.groupBy(col("id"), col("word_idx"))
      .agg(expr(
        """array_join(transform(array_sort(collect_list(
          |  struct(piece_idx, piece))), s -> s.piece), '')""".stripMargin)
        .as("graft_rb"))
    words.join(rebuilt, Seq("id", "word_idx"), "full")
      .groupBy(col("id"))
      .agg(count(col("w")).as("n_words"),
        count(when(col("w").isNotNull, col("graft_rb"))).as("n_encoded"),
        sum(when(col("graft_rb").isNotNull && col("w").isNotNull &&
            col("graft_rb") =!= col("w"), 1L)
          .otherwise(0L)).as("n_mismatch"),
        sum(when(col("w").isNull, 1L).otherwise(0L)).as("n_phantom"))
  }

  private val VocabManifestName = "_graft_vocab_manifest"
  private val VocabVersion = 1

  /** Persist a trained vocabulary as a SERVING ARTIFACT — the missing
    * half of the train→serve chain (training jobs run once; every
    * encode job after that must load exactly the pieces and costs the
    * trainer emitted, or corpora tokenized on different days silently
    * diverge). Layout: a parquet piece table (piece, cost_micro) under
    * `dir`/pieces plus a properties manifest pinning (version,
    * max_piece, trainer, n_pieces). The manifest is written AFTER the
    * parquet commit, so a crash mid-save leaves no manifest and
    * [[loadVocab]] refuses the directory — never a half-written vocab
    * served as whole. maxPiece is validated against the longest piece
    * at save time: an undersized maxPiece on the encode side would
    * silently drop the long pieces from every segmentation.
    */
  def saveVocab(vocab: DataFrame, dir: String, maxPiece: Int,
                trainer: String): Long = {
    require(Set("hard", "soft", "seed").contains(trainer),
      s"trainer must be hard|soft|seed, got '$trainer'")
    val pieces = vocab.select(col("piece"), col("cost_micro").cast("long"))
    val stats = pieces.agg(count(lit(1)), max(length(col("piece")))).head()
    val (n, maxLen) = (stats.getLong(0), if (stats.isNullAt(1)) 0 else stats.getInt(1))
    require(n > 0 && n <= 65536, s"vocab must be a bounded piece table, got $n")
    require(maxLen <= maxPiece,
      s"vocab holds a $maxLen-char piece but maxPiece=$maxPiece — encodes " +
        "under this manifest would silently never use it")
    // manifest I/O goes through the Hadoop FS of `dir` — the pieces
    // table is written by Spark against the same FS, and a java.io
    // manifest would break (or, worse, "succeed" against a local path
    // of the same name) the moment the artifact dir is non-local
    val spark = vocab.sparkSession
    val mfPath = new org.apache.hadoop.fs.Path(dir, VocabManifestName)
    val fs = mfPath.getFileSystem(spark.sessionState.newHadoopConf())
    // RE-save ordering: invalidate the OLD manifest before touching the
    // pieces dir — without this, a crash between the pieces overwrite
    // and the manifest store leaves the old manifest over new pieces,
    // and a matching piece COUNT would let loadVocab serve the mix
    // (wrong max_piece/trainer) as whole
    fs.delete(mfPath, false)
    pieces.write.mode("overwrite").parquet(s"$dir/pieces")
    val props = new java.util.Properties()
    props.setProperty("version", VocabVersion.toString)
    props.setProperty("max_piece", maxPiece.toString)
    props.setProperty("trainer", trainer)
    props.setProperty("n_pieces", n.toString)
    val out = fs.create(mfPath, true)
    try props.store(out, null) finally out.close()
    n
  }

  /** Load a [[saveVocab]] artifact: returns (piece table, maxPiece).
    * Refuses a missing/mismatched manifest and a piece count that
    * disagrees with the manifest (a partially-replaced pieces dir).
    */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
                dir: String): (DataFrame, Int) = {
    val mfPath = new org.apache.hadoop.fs.Path(dir, VocabManifestName)
    val fs = mfPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(mfPath),
      s"no vocab manifest at $dir — train and saveVocab first " +
        "(a crash mid-save also leaves no manifest: re-save)")
    val props = new java.util.Properties()
    val in = fs.open(mfPath)
    try props.load(in) finally in.close()
    require(props.getProperty("version") == VocabVersion.toString,
      s"vocab manifest version ${props.getProperty("version")} != $VocabVersion — rebuild the artifact")
    val df = spark.read.parquet(s"$dir/pieces")
    val n = df.count()
    require(n == props.getProperty("n_pieces").toLong,
      s"pieces table holds $n rows but the manifest pins ${props.getProperty("n_pieces")} — " +
        "the artifact is torn; re-save")
    (df, props.getProperty("max_piece").toInt)
  }

  /** PII redaction — the compliance pass every published training
    * corpus runs (emails, IPv4 addresses, phone-shaped digit runs
    * replaced with typed placeholders, counts reported per doc for the
    * audit trail). Three regexp_replace stages applied IN ORDER
    * (emails, then IPv4, then phones — phones last because the digit-
    * run pattern would otherwise eat dotted IPs), each count taken on
    * that stage's input, so the pipeline is deterministic and the
    * patterns stay in the RE2 ∩ java.util.regex common subset (no
    * lookarounds/backrefs) for engine-exact replay. A pure narrow
    * zero-shuffle scan. This is span REDACTION, not the artefact
    * EXTRACTORS ([[graft.artefacts.Artefacts]] keeps the reference's
    * normalization/plausibility semantics for forensics; redaction
    * wants recall over precision). Output: (id, text_redacted,
    * n_emails, n_ipv4, n_phones).
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phonePat = "\\+?\\d[\\d() .-]{6,}\\d"
    def nMatches(c: String, pat: String) =
      size(expr(s"regexp_extract_all($c, '${pat.replace("\\", "\\\\")}', 0)"))
        .cast("long")
    df.select(col(idCol).as("id"), col(textCol).as("graft_t0"))
      .withColumn("n_emails", nMatches("graft_t0", emailPat))
      .withColumn("graft_t1", regexp_replace(col("graft_t0"), emailPat, "<EMAIL>"))
      .withColumn("n_ipv4", nMatches("graft_t1", ipv4Pat))
      .withColumn("graft_t2", regexp_replace(col("graft_t1"), ipv4Pat, "<IP>"))
      .withColumn("n_phones", nMatches("graft_t2", phonePat))
      .select(col("id"),
        regexp_replace(col("graft_t2"), phonePat, "<PHONE>").as("text_redacted"),
        col("n_emails"), col("n_ipv4"), col("n_phones"))
  }

  /** TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over the
    * corpus's adjacent-token co-occurrence graph — undirected (both
    * orientations emitted, weights = corpus bigram counts), self-
    * adjacencies kept. High-rank tokens are the corpus's structural
    * keywords: connected to many, themselves-well-connected neighbors —
    * a signal word-frequency alone misses.
    *
    * Scale shape: one narrow in-row bigram pass (collocations'
    * construction), one (a, b)-keyed count, then
    * [[graft.operators.GraphOps.pageRank]] — per-iteration join+agg on
    * the VOCABULARY-sized graph, so iteration cost is independent of
    * corpus size once the edges are counted. Integer micro-unit ranks,
    * engine-exact. Output: (token, rank_micro).
    */
  def textRank(df: DataFrame, textCol: String, iters: Int): DataFrame = {
    val words = df.select(split(col(textCol), " ").as("graft_ws"))
    val bi = words.filter(size(col("graft_ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(graft_ws) - 2),
          |  i -> struct(graft_ws[i] AS w1, graft_ws[i + 1] AS w2))""".stripMargin)).as("p"))
      .filter(col("p.w1") =!= "" && col("p.w2") =!= "")
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val edges = bi.select(col("w1").as("graft_a"), col("w2").as("graft_b"))
      .union(bi.select(col("w2").as("graft_a"), col("w1").as("graft_b")))
      .groupBy(col("graft_a"), col("graft_b"))
      .agg(count(lit(1)).as("graft_w"))
    graft.operators.GraphOps.pageRank(edges, "graft_a", "graft_b", "graft_w", iters)
      .select(col("node").as("token"), col("rank_micro"))
  }

  def withFingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("graft_ws", split(col(textCol), " "))
      .withColumn("fingerprint",
        when(size(col("graft_ws")) >= 5,
          array_min(expr("transform(transform(sequence(0, size(graft_ws) - 5), i -> " +
            "concat(graft_ws[i], ' ', graft_ws[i+1], ' ', graft_ws[i+2], ' ', " +
            "graft_ws[i+3], ' ', graft_ws[i+4])), g -> md5(g))"))))
      .drop("graft_ws")

  /** Per-document word-distribution entropy in integer micro-nats — the
    * lexical-diversity quality signal (low entropy = repeated/boilerplate
    * text even when no single n-gram dominates; complements the Gopher
    * repetition battery). H = ln(n) − (Σ c·ln(c))/n over per-word counts
    * c; each ln rounds ONCE to micro-nats (the q102/q114 discipline),
    * the c-weighted sum is a BIGINT, and the division is HALF_UP integer
    * — engine-exact. Two map-side-combinable aggregations; post-shuffle
    * volume is distinct (doc, word), then docs. Output: (id, n_words,
    * n_distinct, entropy_micro).
    */
  def wordEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("graft_w"))
      .groupBy(col("id"), col("graft_w")).agg(count(lit(1)).as("graft_c"))
      .groupBy(col("id"))
      .agg(sum(col("graft_c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(col("graft_c") *
          expr("CAST(round(ln(CAST(graft_c AS DOUBLE)) * 1000000.0) AS BIGINT)"))
          .as("graft_s"))
      .select(col("id"), col("n_words"), col("n_distinct"),
        (expr("CAST(round(ln(CAST(n_words AS DOUBLE)) * 1000000.0) AS BIGINT)") -
          expr("(2 * graft_s + n_words) DIV (2 * n_words)")).as("entropy_micro"))

  /** Vocabulary coverage curve — the tokenizer-sizing report: rank the
    * corpus vocabulary by frequency (ties → lexicographic) and emit, at
    * each checkpoint size V, how many token OCCURRENCES the top-V types
    * cover (basis points, HALF_UP). The running sum is a window over the
    * RANKED VOCABULARY — type-bounded, never corpus-bounded (the corpus
    * pays one map-side-combinable token count). Output per checkpoint ≤
    * |vocab|: (vocab_size, cum_tokens, coverage_bp).
    */
  def vocabCoverage(df: DataFrame, textCol: String,
      checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty, "need at least one checkpoint size")
    // counts feeds the ranking AND the total — persist so the corpus
    // explode + vocabulary shuffle runs once, not per consumer. Cache
    // lifecycle: [[CacheRegistry]] — release after materializing.
    val counts = CacheRegistry.persist(
      df.select(explode(split(col(textCol), " ")).as("graft_w"))
        .filter(col("graft_w") =!= "")
        .groupBy(col("graft_w")).agg(count(lit(1)).as("graft_c")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("graft_c").desc, col("graft_w"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ranked = counts
      .withColumn("vocab_size", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("graft_c").desc, col("graft_w"))))
      .withColumn("cum_tokens", sum(col("graft_c")).over(w))
    val total = counts.agg(sum(col("graft_c")).as("graft_tot"))
    ranked.filter(col("vocab_size").isin(checkpoints: _*))
      .crossJoin(broadcast(total))
      .select(col("vocab_size").cast("long").as("vocab_size"), col("cum_tokens"),
        expr("(20000 * cum_tokens + graft_tot) DIV (2 * graft_tot)").as("coverage_bp"))
  }

  /** Encoding-anomaly detection: per document, counts of U+FFFD
    * replacement characters (the scar a lossy decode leaves — mojibake
    * at its most detectable) and C0 control characters other than
    * tab/LF/CR (binary junk that leaked through extraction), plus the
    * combined anomaly rate in HALF_UP bp of the character count. The
    * pre-tokenization hygiene gate: a corpus slice with a rising
    * anomaly rate means an upstream extractor or charset sniffer
    * regressed.
    *
    * Counting is subtraction of lengths after removal (replace for the
    * single replacement char, one global regexp_replace for the
    * control class) — narrow expressions, zero shuffles, and the same
    * arithmetic on any engine. Only anomalous documents are returned.
    *
    * Output: (id, n_chars, n_repl, n_ctl, anomaly_bp), anomaly_bp > 0.
    */
  def encodingAnomalies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        length(col(textCol)).cast("long").as("n_chars"),
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), "�", "")))
          .cast("long").as("n_repl"),
        (length(col(textCol)) -
          length(regexp_replace(col(textCol),
            "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")))
          .cast("long").as("n_ctl"))
      .filter(col("n_repl") + col("n_ctl") > 0)
      .withColumn("anomaly_bp", expr(
        "(20000 * (n_repl + n_ctl) + n_chars) DIV (2 * n_chars)"))

  /** Term proximity: for every document containing BOTH terms, the
    * occurrence counts and the minimum token-distance between any
    * occurrence of `termA` and any of `termB` — the phrase-nearness
    * signal a retrieval stack layers on top of bag-of-words BM25
    * ("query terms three tokens apart" ≫ "same 10k-token document").
    *
    * Positions index the EMPTY-FILTERED token sequence (split on
    * single space, empties dropped), matching the tokenizer every
    * other text operator uses. Entirely in-row: the positions arrays
    * and the min-distance fold are higher-order expressions over the
    * token split — zero shuffles, scan-speed. The in-row cost is
    * |occ_A|·|occ_B| per document — fine for content terms; don't
    * point it at two stopwords in a 10M-token document without
    * capping upstream.
    *
    * Output: (id, n_a, n_b, min_gap), only documents with both terms.
    */
  def termProximity(df: DataFrame, idCol: String, textCol: String,
                    termA: String, termB: String): DataFrame = {
    require(termA.nonEmpty && termB.nonEmpty && termA != termB,
      s"need two distinct non-empty terms, got '$termA' '$termB'")
    def lt(s: String) = org.apache.spark.sql.functions.lit(s)
    val toks = filter(split(col(textCol), " "), t => t =!= lit(""))
    def positions(term: org.apache.spark.sql.Column) =
      filter(
        transform(toks, (t, i) => when(t === term, i.cast("long")).otherwise(lit(-1L))),
        p => p >= 0L)
    df.select(col(idCol).as("id"),
        positions(lt(termA)).as("graft_pa"), positions(lt(termB)).as("graft_pb"))
      .filter(size(col("graft_pa")) > 0 && size(col("graft_pb")) > 0)
      .select(col("id"),
        size(col("graft_pa")).cast("long").as("n_a"),
        size(col("graft_pb")).cast("long").as("n_b"),
        array_min(flatten(transform(col("graft_pa"),
          a => transform(col("graft_pb"), b => abs(a - b))))).as("min_gap"))
  }

  /** Rank-normalized quality blend — combining heterogeneous quality
    * signals whose raw scales are incomparable (chars vs ratios vs
    * model scores) by mapping each to its within-source percentile
    * rank first, then averaging: the standard trick for building one
    * composite quality index per document without hand-tuned scale
    * constants, and normalizing WITHIN source keeps a verbose source
    * from monopolizing the top of the blend. Signals here: raw length
    * and distinct-token ratio; both normalized as
    * HALF_UP(10⁴·(rank−1)/(n−1)) (row_number with doc-id tie-break —
    * deterministic; a singleton source gets the neutral 5000), blended
    * as the HALF_UP mean. Output: (id, src, len_bp, ttr_bp, blend_bp).
    *
    * Two per-source rank windows (per-key sorts) — no global windows,
    * no floats.
    */
  def qualityBlend(df: DataFrame, idCol: String, textCol: String,
                   srcCol: String): DataFrame = {
    val toks = filter(split(col(textCol), " "), t => t =!= lit(""))
    val withToks = df.select(col(idCol).as("id"), col(srcCol).as("src"),
        length(col(textCol)).cast("long").as("graft_len"),
        size(array_distinct(toks)).cast("long").as("graft_dt"),
        size(toks).cast("long").as("graft_nt"))
      .filter(col("graft_nt") > 0)
      .withColumn("graft_ttr",
        expr("(20000 * graft_dt + graft_nt) DIV (2 * graft_nt)"))
    def normed(sig: String, out: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col(sig), col("id"))
      val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      (df: DataFrame) => df
        .withColumn("graft_rn", row_number().over(w).cast("long"))
        .withColumn("graft_n", count(lit(1)).over(wn))
        .withColumn(out, expr(
          "CASE WHEN graft_n > 1 THEN " +
            "(20000 * (graft_rn - 1) + (graft_n - 1)) DIV (2 * (graft_n - 1)) " +
            "ELSE CAST(5000 AS BIGINT) END"))
        .drop("graft_rn", "graft_n")
    }
    normed("graft_ttr", "ttr_bp")(normed("graft_len", "len_bp")(withToks))
      .withColumn("blend_bp", expr("(len_bp + ttr_bp + 1) DIV 2"))
      .select(col("id"), col("src"), col("len_bp"), col("ttr_bp"),
        col("blend_bp"))
  }

  /** Flesch reading-ease per document, in exact milli-points — the
    * curation-side readability gate (grade-banding a corpus, or
    * filtering machine-generated word salad that scores absurdly low).
    * FRE = 206.835 − 1.015·(W/S) − 84.6·(Syl/W), computed as
    * 206835 − HALF_UP(1015·W/S) − HALF_UP(84600·Syl/W) so both engines
    * agree bit-for-bit.
    *
    * Counting rules (each the standard cheap proxy, pinned here):
    * words = non-empty space-split tokens; sentences = runs of [.!?]
    * when the text has any, else ceil(W/15) fixed-width units (15 ≈
    * mean English sentence length — unpunctuated corpora still get a
    * usable score instead of a degenerate W/1 blowup); syllables =
    * [aeiouy]+ vowel groups in the lowercased text (the classic
    * one-liner syllable estimate). Zero-word documents are dropped.
    * Narrow per-row arithmetic — no shuffles at any corpus size.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = filter(split(col(textCol), " "), t => t =!= lit(""))
    df.select(col(idCol).as("id"),
        size(toks).cast("long").as("n_words"),
        regexp_count(col(textCol), lit("[.!?]+")).cast("long")
          .as("graft_punct"),
        size(filter(split(lower(col(textCol)), "[^aeiouy]+"), s => s =!= lit("")))
          .cast("long").as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("n_sentences", expr(
        "CASE WHEN graft_punct > 0 THEN graft_punct ELSE (n_words + 14) DIV 15 END"))
      .withColumn("fre_milli", expr(
        "206835 - (2 * 1015 * n_words + n_sentences) DIV (2 * n_sentences)" +
          " - (2 * 84600 * n_syllables + n_words) DIV (2 * n_words)"))
      .select(col("id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("fre_milli"))
  }
}
