package graft

import graft.llm.Retrieval
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** BM25 top-k retrieval against an independent pure-Scala reference
  * implementation of the same integer-exact scoring spec.
  */
class RetrievalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-retrieval-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** HALF_UP(num / den) for non-negative num, positive den. */
  private def halfUp(num: Long, den: Long): Long = (2 * num + den) / (2 * den)

  /** Pure-Scala reference: same spec, no Spark. */
  private def refBm25(docs: Seq[(Long, String)], nQueries: Int,
                      termsPerQuery: Int, k: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val dfT = docs.flatMap { case (id, text) =>
      text.split(" ").filter(_.nonEmpty).distinct.map(t => (id, t))
    }.groupBy(_._2).map { case (tok, ts) => tok -> ts.size.toLong }
    val queries = dfT.toSeq.sortBy { case (tok, d) => (-d, tok) }
      .take(nQueries * termsPerQuery).zipWithIndex
      .groupBy { case (_, i) => i.toLong / termsPerQuery }
      .map { case (qid, ts) => qid -> ts.map(_._1._1) }
    refBm25For(docs, queries, k)
  }

  /** Reference scorer for explicit (qid -> terms) queries. */
  private def refBm25For(docs: Seq[(Long, String)], queries: Map[Long, Seq[String]],
                         k: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val tf = docs.flatMap { case (id, text) =>
      text.split(" ").filter(_.nonEmpty).groupBy(identity).map {
        case (tok, occ) => (id, tok, occ.length.toLong)
      }
    }
    val dl = tf.groupBy(_._1).map { case (id, ts) => id -> ts.map(_._3).sum }
    val nDocs = dl.size.toLong
    val lTot = dl.values.sum
    val avdlM = halfUp(1000 * lTot, nDocs)
    val dfT = tf.groupBy(_._2).map { case (tok, ts) => tok -> ts.size.toLong }
    val queryTerms = queries.toSeq.flatMap { case (qid, ts) =>
      ts.flatMap(t => dfT.get(t).map(d => (t, d, qid)))
    }
    val scored = (for {
      (tok, d, qid) <- queryTerms
      (id, t, f) <- tf if t == tok
    } yield {
      val idfBp = halfUp(10000 * (2 * nDocs - 2 * d + 1), 2 * d + 1)
      val den = 20 * avdlM * f + 6 * avdlM + 18 * dl(id) * 1000
      val tfnBp = halfUp(10000 * 44 * avdlM * f, den)
      (qid, id, halfUp(idfBp * tfnBp, 10000))
    }).groupBy { case (qid, id, _) => (qid, id) }
      .map { case ((qid, id), cs) => (qid, id, cs.size.toLong, cs.map(_._3).sum) }
    scored.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.toSeq.sortBy { case (_, id, _, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((_, id, nt, s), i) => (qid, i + 1L, id, nt, s) }
    }.sortBy(r => (r._1, r._2))
  }

  private val corpus = Seq(
    0L -> "a a b", 1L -> "a c", 2L -> "b b b c", 3L -> "c",
    4L -> "a b c d", 5L -> "d d e", 6L -> "e a a", 7L -> "b c d e")

  test("bm25TopK matches the pure-Scala reference exactly") {
    import spark.implicits._
    val out = Retrieval.bm25TopK(corpus.toDF("doc_id", "text"), "doc_id", "text",
        nQueries = 3, termsPerQuery = 2, k = 3)
      .orderBy("qid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val expected = refBm25(corpus, nQueries = 3, termsPerQuery = 2, k = 3)
    assert(out == expected, s"\nspark: $out\nref:   $expected")
    assert(out.nonEmpty && out.forall(_._5 > 0))
    spark.catalog.clearCache()
  }

  test("bm25TopK matches the reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    for (trial <- 0 until 3) {
      val docs = (0L until (8L + rnd.nextInt(12))).map { i =>
        (i, (0 until 2 + rnd.nextInt(12)).map(_ => s"w${rnd.nextInt(9)}").mkString(" "))
      }
      val out = Retrieval.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text",
          nQueries = 2, termsPerQuery = 2, k = 4)
        .orderBy("qid", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val expected = refBm25(docs, nQueries = 2, termsPerQuery = 2, k = 4)
      assert(out == expected, s"trial $trial:\nspark: $out\nref:   $expected")
      spark.catalog.clearCache()
    }
  }

  test("bm25TopK gives the same output with ANSI on and off when a text is NULL") {
    import spark.implicits._
    // every term ties at df 1 or 2: a posting for the NULL text would
    // sort first among the df-1 terms and displace a real probe term
    val docs = Seq[(Long, String)](1L -> "a b", 2L -> "b c", 3L -> null, 4L -> "c d")
    def topK(ansi: Boolean) = {
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try Retrieval.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text",
          nQueries = 2, termsPerQuery = 2, k = 4)
        .orderBy("qid", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      finally { graft.llm.CacheRegistry.releaseAll(spark); spark.catalog.clearCache() }
    }
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    try {
      val on = topK(ansi = true)
      assert(on == refBm25(docs.filter(_._2 != null), nQueries = 2, termsPerQuery = 2, k = 4))
      assert(topK(ansi = false) == on)
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("bm25TopK breaks score ties on ascending doc id") {
    import spark.implicits._
    // identical docs -> identical scores for every query term
    val docs = Seq(10L -> "x y", 3L -> "x y", 7L -> "x y").toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
        nQueries = 1, termsPerQuery = 1, k = 3)
      .orderBy("rnk").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 3L), (2L, 7L), (3L, 10L)))
    spark.catalog.clearCache()
  }

  test("bm25TopKFor scores explicit queries; absent-only queries return no rows") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val terms = Seq((0L, "a"), (0L, "b"), (1L, "zz_missing")).toDF("qid", "tok")
    val out = Retrieval.bm25TopKFor(docs, "doc_id", "text", terms, k = 3)
      .orderBy("qid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // the explicit {a,b} query must equal the auto-probe scorer's
    // answer for the same term pair (force it via the reference)
    val ref = refBm25For(corpus, Map(0L -> Seq("a", "b")), k = 3)
    assert(out == ref, s"\nspark: $out\nref:   $ref")
    assert(!out.exists(_._1 == 1L), "absent-term query leaked rows")
    spark.catalog.clearCache()
  }

  test("bm25TopKFor dedups repeated query terms instead of double-counting them") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val once = Seq((0L, "a"), (0L, "b")).toDF("qid", "tok")
    val dup = Seq((0L, "a"), (0L, "a"), (0L, "b")).toDF("qid", "tok")
    def score(t: org.apache.spark.sql.DataFrame) =
      Retrieval.bm25TopKFor(docs, "doc_id", "text", t, k = 5)
        .orderBy("qid", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    assert(score(dup) == score(once))
    spark.catalog.clearCache()
  }

  test("bm25DiversifiedFor caps survivors per source before the global top-k") {
    import spark.implicits._
    // one source with three identical high-scoring docs, another with
    // one weaker doc: maxPerSource=2 must bump the third clone for the
    // weaker source's doc
    val docs = Seq(
      (1L, "hit hit hit", "mill"), (2L, "hit hit hit", "mill"),
      (3L, "hit hit hit", "mill"), (4L, "hit other words here", "indie"),
      (5L, "unrelated text entirely", "indie")
    ).toDF("doc_id", "text", "source")
    val terms = Seq((0L, "hit")).toDF("qid", "tok")
    val got = Retrieval.bm25DiversifiedFor(docs, "doc_id", "text", "source",
        terms, k = 3, maxPerSource = 2)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got.map(_._2) == Seq(1L, 2L, 4L), s"got $got")
    assert(got.count(_._3 == "mill") == 2)
    spark.catalog.clearCache()
  }

  test("bm25PrfRerank reorders candidates by the seed-centroid dot product") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hit hit hit"), (2L, "hit hit"), (3L, "hit"), (4L, "hit x")
    ).toDF("doc_id", "text")
    // seeds (bm25 top-3) are 1,2,3; centroid = mean(1000,1000,-1000) = 333
    // on dim 0 -> doc 4 (orthogonal, dot 0) outranks doc 3 (dot -333000)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f)), (4L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val terms = Seq((0L, "hit")).toDF("qid", "tok")
    val got = Retrieval.bm25PrfRerank(docs, vecs, "doc_id", "text",
        "vec_id", "embedding", terms, kCand = 4, kSeed = 3, k = 4)
      .orderBy("prf_rnk")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, 1L, 333000L), (2L, 2L, 333000L), (3L, 4L, 0L), (4L, 3L, -333000L)),
      s"got $got")
    spark.catalog.clearCache()
  }

  test("bm25PrfRerank falls back to BM25 order when no seed has an embedding") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hit hit hit hit"), (2L, "hit hit hit"),
      (3L, "hit hit"), (4L, "hit")
    ).toDF("doc_id", "text")
    // seeds (ranks 1,2) have NO embedding rows; candidates 3,4 do
    val vecs = Seq((3L, Array(1.0f)), (4L, Array(1.0f))).toDF("vec_id", "embedding")
    val terms = Seq((0L, "hit")).toDF("qid", "tok")
    val got = Retrieval.bm25PrfRerank(docs, vecs, "doc_id", "text",
        "vec_id", "embedding", terms, kCand = 4, kSeed = 2, k = 4)
      .orderBy("prf_rnk")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.isNullAt(5))).toSeq
    // query survives (not dropped), EVERY candidate survives — incl.
    // the embedding-less seeds — in BM25 order, dot NULL throughout
    // (no centroid existed)
    assert(got == Seq((1L, 1L, true), (2L, 2L, true), (3L, 3L, true), (4L, 4L, true)),
      s"got $got")
    spark.catalog.clearCache()
  }

  test("bm25PrfRerank keeps a missing-embedding candidate after the scored ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hit hit hit"), (2L, "hit hit"), (3L, "hit"), (4L, "hit x")
    ).toDF("doc_id", "text")
    // doc 3 (bm25 rank 3) has NO embedding row; seeds are ranks 1,2 →
    // centroid (1000, 0). Scored: doc 1,2 dot 1000000; doc 4 dot
    // -1000000 (NEGATIVE — the case a bare coalesce(dot, -rnk) order
    // would let the unscored doc 3 jump). Doc 3 must rank LAST with a
    // NULL dot, after the negative-dot scored candidate.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val terms = Seq((0L, "hit")).toDF("qid", "tok")
    val got = Retrieval.bm25PrfRerank(docs, vecs, "doc_id", "text",
        "vec_id", "embedding", terms, kCand = 4, kSeed = 2, k = 4)
      .orderBy("prf_rnk")
      .collect().map(r => (r.getLong(1), r.getLong(2),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSeq
    assert(got == Seq(
      (1L, 1L, Some(1000000L)), (2L, 2L, Some(1000000L)),
      (3L, 4L, Some(-1000000L)), (4L, 3L, None)), s"got $got")
    spark.catalog.clearCache()
  }

  test("graft.Search end-to-end over the testdata corpus") {
    val out = Search.run(spark, "/root/testdata/sf0.001/documents.parquet",
      Seq(Seq("table", "scan"), Seq("zzz_absent")), k = 4)
      .collect()
    assert(out.nonEmpty && out.length <= 4)
    assert(out.forall(_.getLong(0) == 0L), "absent-only query must yield nothing")
    assert(out.map(_.getLong(1)).toSeq == (1L to out.length))
    assert(out.forall(r => r.getString(5).contains("table") || r.getString(5).contains("scan")))
    graft.llm.CacheRegistry.releaseAll(spark)
  }

  test("indexed bm25 matches the per-call path, incl. after catalog re-registration") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val queries = Seq(Seq("table", "scan"), Seq("join", "stream"), Seq("zzz_absent"))
    val terms = queries.zipWithIndex
      .flatMap { case (ts, i) => ts.map(t => (i.toLong, t)) }.toDF("qid", "tok")
    val want = Retrieval.bm25TopKFor(docs, "doc_id", "text", terms, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    graft.llm.CacheRegistry.releaseAll(spark)

    val idx = java.nio.file.Files.createTempDirectory("graft-idx").toString
    Retrieval.buildIndex(docs, "doc_id", "text", idx, numBuckets = 4)
    graft.llm.CacheRegistry.releaseAll(spark)
    def indexed(): Seq[(Long, Long, Long, Long, Long)] =
      Retrieval.bm25TopKIndexed(spark, idx, queries, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq.sorted
    assert(indexed() == want, "indexed path diverged from per-call path")

    // a fresh session's catalog has no trace of the tables — dropping
    // them here forces openIndex's registerExternal DDL path, which
    // must re-attach the bucket spec from the manifest alone
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_idx_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    assert(indexed() == want, "re-registered index diverged")

    // the re-registered scan still prunes buckets on the term filter
    val p = Retrieval.bm25TopKIndexed(spark, idx, Seq(Seq("table")), k = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount"),
      s"indexed scan lost bucket pruning:\n$p")
  }

  test("bm25TopK degrades gracefully when the vocabulary is smaller than the query budget") {
    import spark.implicits._
    val docs = Seq(0L -> "p q", 1L -> "p").toDF("doc_id", "text")
    // asks for 4*2=8 terms; only 2 exist -> 2 queries of 1 term each
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
        nQueries = 4, termsPerQuery = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq.sorted
    assert(out.map(_._1).distinct == Seq(0L))
    spark.catalog.clearCache()
  }

  test("rankingMetrics: MRR conventions — no-hit rr 0, absent queries still reported") {
    import spark.implicits._
    import graft.llm.Retrieval
    val ranked = Seq(
      (0L, 5L, 1L), (0L, 6L, 2L), (0L, 7L, 3L), // rel at ranks 2, 3
      (1L, 8L, 1L), (1L, 9L, 2L)                // no relevant hit
    ).toDF("qid", "id", "rnk")
    val rel = Seq((0L, 6L), (0L, 7L), (1L, 99L), (2L, 1L)).toDF("qid", "id")
    val queries = Seq(0L, 1L, 2L).toDF("qid") // 2 never returned anything
    val got = Retrieval.rankingMetrics(ranked, rel, queries, k = 2)
      .collect().map(r => r.getLong(0) -> (
        r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    // k=2: qid 0 sees rel only at rank 2 → 1 hit, rr = 1e6/2
    assert(got(0L) === ((1L, 2L, 500000L, 5000L)))
    assert(got(1L) === ((0L, -1L, 0L, 0L)))
    assert(got(2L) === ((0L, -1L, 0L, 0L)))
  }

  test("ndcgAtK: hand-checked discounts, ideal packing, NULL when nothing is relevant") {
    import spark.implicits._
    import graft.llm.Retrieval
    val w = (1 to 3).map(r => math.round(1e6 * math.log(2.0) / math.log(r + 1.0)))
    val ranked = Seq((0L, 5L, 1L), (0L, 6L, 2L), (0L, 7L, 3L),
      (1L, 5L, 1L)).toDF("qid", "id", "rnk")
    val rel = Seq((0L, 5L), (0L, 7L)).toDF("qid", "id") // ranks 1 and 3
    val got = Retrieval.ndcgAtK(ranked, rel, Seq(0L, 1L).toDF("qid"), k = 3)
      .collect().map(r => r.getLong(0) -> (
        r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val dcg = w(0) + w(2)
    val idcg = w(0) + w(1)
    assert(got(0L) === ((dcg, idcg, (20000L * dcg + idcg) / (2 * idcg))))
    // qid 1 has NO relevant item anywhere → nDCG undefined (NULL)
    assert(got(1L) === ((0L, -1L, -1L)))
  }

  test("rrfFuse: arm overlap dominates, absent arms contribute zero, ties to lowest id") {
    import spark.implicits._
    import graft.llm.Retrieval
    val a = Seq((0L, 100L, 1L), (0L, 200L, 2L)).toDF("qid", "id", "rnk")
    val b = Seq((0L, 200L, 1L), (0L, 300L, 2L)).toDF("qid", "id", "rnk")
    val got = Retrieval.rrfFuse(a, b, k = 3)
      .orderBy("rrf_rnk").collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    // HALF_UP(1e6/61) = 16393, HALF_UP(1e6/62) = 16129
    assert(got.toSeq === Seq(
      (200L, 16129L + 16393L), // both arms
      (100L, 16393L),          // A-only rank 1
      (300L, 16129L)))         // B-only rank 2
    // exact tie on score → lowest id first
    val t1 = Seq((1L, 7L, 1L)).toDF("qid", "id", "rnk")
    val t2 = Seq((1L, 5L, 1L)).toDF("qid", "id", "rnk")
    val tie = Retrieval.rrfFuse(t1, t2, k = 2)
      .orderBy("rrf_rnk").collect().map(_.getLong(2)).toSeq
    assert(tie === Seq(5L, 7L))
  }
}
