package graft

import graft.llm.{CacheRegistry, Dedup, Sketches, Similarity, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the operator library's cache lifecycle contract: every persisted
  * shared subtree is registered with [[CacheRegistry]], so after
  * materializing a result and calling `releaseAll` no persisted RDDs
  * remain in the session — composing operators in a long-lived
  * application cannot leak storage memory.
  */
class CacheHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-cache-hygiene-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def assertNoLeak(name: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
    val df = build
    df.count() // materialize with the caches alive (that's their point)
    CacheRegistry.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"$name leaked persisted RDDs after releaseAll")
  }

  test("collapsedLshPairs leaves no persisted RDDs after releaseAll") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, if (i % 4 == 0) "a b c d e f" else s"u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    assertNoLeak("collapsedLshPairs") {
      Dedup.collapsedLshPairs(docs, "doc_id", "text", shingleN = 3, numHashes = 8, rowsPerBand = 2)
    }
  }

  test("fleissKappa leaves no persisted RDDs after releaseAll") {
    import spark.implicits._
    val ratings = (0L until 60L).map(i =>
      (i % 20, i / 20, (i % 3).toString)).toDF("item", "rater", "label")
    assertNoLeak("fleissKappa") {
      graft.llm.Preference.fleissKappa(ratings, "item", "rater", "label", 3)
    }
  }

  test("bradleyTerry driver path leaves no persisted RDDs after releaseAll") {
    import spark.implicits._
    val pairs = (1L to 30L).map(i =>
      (i % 5, (i % 5 + 1 + i % 3) % 5, 1L + i % 2)).toDF("w", "l", "n")
    assertNoLeak("bradleyTerry(driver)") {
      graft.llm.Preference.bradleyTerry(pairs, "w", "l", "n", iters = 3)
    }
  }

  test("bradleyTerry distributed path retains ONLY its result checkpoint") {
    import spark.implicits._
    // same contract as pageRank: superseded per-level checkpoints are
    // unpersisted inside the loop; the final checkpoint IS the
    // result's storage and must survive releaseAll
    val pairs = (1L to 30L).map(i =>
      (i % 5, (i % 5 + 1 + i % 3) % 5, 1L + i % 2)).toDF("w", "l", "n")
    val out = graft.llm.Preference.bradleyTerry(pairs, "w", "l", "n",
      iters = 4, smallPairsThreshold = 0L)
    out.count()
    CacheRegistry.releaseAll(spark)
    val remaining = spark.sparkContext.getPersistentRDDs
    assert(remaining.size <= 1,
      s"bradleyTerry left ${remaining.size} persisted RDDs; only the result checkpoint may remain")
    remaining.values.foreach(_.unpersist(true))
  }

  test("ngramJaccardPairs leaves no persisted RDDs after releaseAll") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, s"a b c d${i % 3} e f")).toDF("doc_id", "text")
    assertNoLeak("ngramJaccardPairs") {
      Dedup.ngramJaccardPairs(Dedup.shingles(docs, "doc_id", "text", 3))
    }
  }

  test("cosineNearDupPairs and lshTopK leave no persisted RDDs after releaseAll") {
    import spark.implicits._
    val vecs = (1L to 30L).map(i => (i, Seq.tabulate(8)(d => ((i % 5) + d).toFloat)))
      .toDF("vec_id", "embedding")
    assertNoLeak("cosineNearDupPairs") {
      Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", nPlanes = 4,
        minScore = 0.99, dim = 8)
    }
    assertNoLeak("lshTopK") {
      Similarity.lshTopK(vecs, "vec_id", "embedding",
        vecs.filter(col("vec_id") <= 3), k = 5, nPlanes = 4, dim = 8)
    }
  }

  test("tfidfTopTerms leaves no persisted RDDs after releaseAll") {
    import spark.implicits._
    val docs = (1L to 15L).map(i => (i, s"the quick brown fox f$i jumps")).toDF("doc_id", "text")
    assertNoLeak("tfidfTopTerms") {
      TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 3)
    }
  }

  test("cmsHeavyHitters is self-contained: no persisted RDDs even without releaseAll") {
    import spark.implicits._
    val toks = (Seq.fill(50)("hot") ++ (1 to 30).map(i => s"c$i")).toDF("token")
    val out = Sketches.cmsHeavyHitters(toks, "token", d = 4, w = 64, k = 5)
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "cmsHeavyHitters must drop its vocabulary cache before returning")
  }

  test("dsirWeights is self-contained") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, if (i % 3 == 0) s"alpha beta gamma t$i" else s"delta eps zeta r$i"))
      .toDF("id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = TextAnalysis.dsirWeights(docs, docs.filter(col("id") % 3 === 0), "id", "text", nBuckets = 64)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"dsirWeights left ${left.size} persisted RDDs")
    assert(out.count() == 30L)
  }

  test("connectedComponents driver path is self-contained") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    Dedup.connectedComponents(edges, "a", "b").count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("dedupCorpus persists each shared subtree once: zero CacheManager warnings") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, if (i % 4 == 0) "a b c d e f g" else s"u$i v$i w$i x$i y$i"))
      .toDF("doc_id", "text")
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "graft-cache-capture", null, null, false,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("already cached")) warnings.add(msg)
      }
    }
    appender.start()
    val logCfg = ctx.getConfiguration
    logCfg.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    try Dedup.dedupCorpus(docs, "doc_id", "text",
      shingleN = 3, numHashes = 8, rowsPerBand = 2).count()
    finally {
      logCfg.getRootLogger.removeAppender("graft-cache-capture")
      ctx.updateLoggers()
    }
    CacheRegistry.releaseAll(spark)
    assert(warnings.isEmpty, s"CacheManager re-cache warnings: $warnings")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "dedupCorpus leaked persisted RDDs after releaseAll")
  }

  test("CacheRegistry.persist is a no-op on an already-persisted plan") {
    import spark.implicits._
    val df = (1L to 10L).toDF("x")
    val first = CacheRegistry.persist(df)
    val again = CacheRegistry.persist(df.sparkSession.range(1, 11).toDF("x")
      .filter(col("x") > 0)) // distinct plan: registers normally
    val dup = CacheRegistry.persist(df) // same plan: must not re-persist
    first.count(); again.count(); dup.count()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    CacheRegistry.releaseAll(spark)
    assert(persisted == 2, s"same-plan re-persist should be a no-op, got $persisted caches")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("scoped releases only the scope's own registrations") {
    import spark.implicits._
    val resident = CacheRegistry.persist((1L to 5L).toDF("a"))
    resident.count()
    CacheRegistry.scoped(spark) {
      val mine = CacheRegistry.persist(
        spark.range(1, 6).toDF("b").filter(col("b") > 0))
      mine.count()
      // a registration made DURING the scope by other (unscoped) work —
      // the case an identity snapshot of the shared queue would sweep
      val other = new Thread(() => {
        CacheRegistry.persist(
          spark.range(1, 7).toDF("c").filter(col("c") > 0)).count()
        ()
      })
      other.start(); other.join()
      assert(spark.sparkContext.getPersistentRDDs.size == 3)
    }
    // only the scope's own cache is gone; the co-resident frames —
    // including the one registered concurrently mid-scope — survive
    assert(spark.sparkContext.getPersistentRDDs.size == 2,
      "scoped must release exactly its own registrations")
    assert(resident.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    CacheRegistry.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("minhashAgreement leaves no persisted RDDs after releaseAll") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, if (i % 3 == 0) "a b c d e f g" else s"u$i v$i w$i x$i y$i"))
      .toDF("doc_id", "text")
    assertNoLeak("minhashAgreement") {
      Dedup.minhashAgreement(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2)
    }
  }

  test("jaccardJoin leaves no persisted RDDs after releaseAll, both regimes") {
    import spark.implicits._
    val docs = (1L to 25L).map(i => (i, s"a b c d${i % 4} e${i % 3} f"))
      .toDF("doc_id", "text")
    assertNoLeak("jaccardJoin (dense)") {
      Dedup.jaccardJoin(docs, "doc_id", "text", 5000L)
    }
    spark.conf.set("graft.jaccard.denseVocabMax", "0")
    try assertNoLeak("jaccardJoin (sparse)") {
      Dedup.jaccardJoin(docs, "doc_id", "text", 5000L)
    } finally spark.conf.unset("graft.jaccard.denseVocabMax")
  }

  test("weightedJaccardJoin and greedyCover/markovBacktest leave no persisted RDDs") {
    import spark.implicits._
    val docs = (1L to 25L).map(i => (i, s"a b c d${i % 4} e${i % 3} f"))
      .toDF("doc_id", "text")
    assertNoLeak("weightedJaccardJoin") {
      Dedup.weightedJaccardJoin(docs, "doc_id", "text", 4000L)
    }
    assertNoLeak("greedyCover") {
      graft.llm.Curation.greedyCover(docs, "doc_id", "text", k = 3)
    }
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val events = (1L to 40L).map(i => (i % 5, ts(i * 1000L), i, s"t${i % 3}"))
      .toDF("user_id", "ts", "event_id", "event_type")
    assertNoLeak("markovBacktest") {
      graft.operators.EventAnalytics.markovBacktest(
        events, "user_id", "ts", "event_type", "event_id")
    }
    assertNoLeak("associationRules") {
      graft.operators.EventAnalytics.associationRules(
        events.select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_type")),
        "user_id", "event_type")
    }
    assertNoLeak("langIdConfusion") {
      graft.llm.TextAnalysis.langIdConfusion(
        docs.withColumn("lang",
          org.apache.spark.sql.functions.lit("en")), "text", "lang")
    }
  }

  test("pageRank retains ONLY its result checkpoint after releaseAll") {
    import spark.implicits._
    // superseded per-level checkpoints are unpersisted deterministically
    // inside the loop; the final checkpoint IS the result's storage and
    // must survive — exactly one persisted RDD remains. Force the
    // DISTRIBUTED path (the one that checkpoints): the default small-
    // graph cutoff would route this tiny vocabulary to the driver loop.
    val docs = (1L to 20L).map(i => (i, s"a b${i % 3} c d${i % 2}")).toDF("doc_id", "text")
    spark.conf.set("graft.pagerank.smallGraphEdges", "0")
    val out =
      try TextAnalysis.textRank(docs, "text", iters = 7)
      finally spark.conf.unset("graft.pagerank.smallGraphEdges")
    out.count()
    CacheRegistry.releaseAll(spark)
    val remaining = spark.sparkContext.getPersistentRDDs
    assert(remaining.size <= 1,
      s"pageRank left ${remaining.size} persisted RDDs; only the result checkpoint may remain")
    remaining.values.foreach(_.unpersist(true))
  }

  test("banded-hamming near-dup pairs leave no persisted RDDs after releaseAll") {
    import spark.implicits._
    // the masked-fingerprint frame persists (both join sides read the
    // upstream decode) and must release cleanly
    val fps = (1L to 30L).map(i => (i, (i % 6) * 1000L)).toDF("id", "fp")
    assertNoLeak("fp32NearDupPairs") {
      graft.llm.Multimodal.fp32NearDupPairs(fps, "id", "fp", maxHamming = 3)
    }
    val dh = (1L to 30L).map(i => (i, (i % 5) * 7L, (i % 3) * 11L))
      .toDF("id", "dhashA", "dhashB")
    assertNoLeak("dhashNearDupPairs") {
      graft.llm.Multimodal.dhashNearDupPairs(dh, "id", maxHamming = 2)
    }
  }

  test("bpeTrain leaves no persisted RDDs after releaseAll, both paths") {
    import spark.implicits._
    val docs = (1L to 15L).map(i => (i, s"abc$i abd abd ee$i")).toDF("doc_id", "text")
    // distributed loop (threshold 0): per-level checkpoints must be
    // dropped in-loop and the final one at exit — the merge table is a
    // driver-built frame, so NOTHING may survive releaseAll
    assertNoLeak("bpeTrain(distributed)") {
      TextAnalysis.bpeTrain(docs, "text", merges = 7, smallVocabThreshold = 0L)
    }
    assertNoLeak("bpeTrain(driver)") {
      TextAnalysis.bpeTrain(docs, "text", merges = 7, smallVocabThreshold = 1000L)
    }
  }

  test("round-8 persisting operators leave no persisted RDDs after releaseAll") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, s"a b$i c d${i % 3} e")).toDF("doc_id", "text")
    assertNoLeak("bm25TopK") {
      graft.llm.Retrieval.bm25TopK(docs, "doc_id", "text", 2, 2, 3)
    }
    val keyed = (1L to 30L).map(i => (i, s"k${i % 4}")).toDF("id", "k")
    assertNoLeak("keySkewReport") {
      graft.llm.Profiling.keySkewReport(keyed, "k", 4)
    }
    val grouped = (1L to 60L).map(i => (s"g${i % 3}", s"v${i % 20}")).toDF("grp", "v")
    assertNoLeak("hllOverlap") {
      Sketches.hllOverlap(grouped, "grp", "v")
    }
    val vecs = (1L to 20L).map(i => (i, (i % 4).toInt, Array((i % 7).toFloat, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    assertNoLeak("embedOutliers") {
      Similarity.embedOutliers(vecs, "vec_id", "label", "embedding", 2)
    }
  }

  test("labelPropagation retains only its result checkpoint (distributed); driver path is clean") {
    import spark.implicits._
    val edges = (1L to 12L).map(i => (s"n${i % 5}", s"n${(i + 1) % 5}", 1L + i % 3))
      .toDF("s", "d", "w")
    val dist = graft.operators.GraphOps.labelPropagation(edges, "s", "d", "w",
      iters = 5, smallGraphThreshold = 0L)
    dist.count()
    CacheRegistry.releaseAll(spark)
    val remaining = spark.sparkContext.getPersistentRDDs
    assert(remaining.size <= 1,
      s"labelPropagation left ${remaining.size} persisted RDDs; only the result checkpoint may remain")
    remaining.values.foreach(_.unpersist(true))
    assertNoLeak("labelPropagation(driver)") {
      graft.operators.GraphOps.labelPropagation(edges, "s", "d", "w", iters = 5)
    }
  }
}
