package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** In-row per-document term counting — the shared kernel behind
  * [[Retrieval]]'s postings table and [[TextAnalysis]]'s tf-idf: a
  * document's tokens all live in its own text cell, so the (term, tf)
  * pairs are one `array_sort` plus a run-boundary walk per ROW. The
  * explode → groupBy(id, term) formulation this replaces shuffled the
  * whole per-doc term table at any corpus size for groups that were
  * partition-local by construction (guide §2.3/§2.4). Counts are
  * identical to the exploded groupBy's by construction.
  *
  * Intermediates (the sorted array, the run-start index list) ride
  * through 1-element `explode(array(…))` Generates — the
  * withViterbiPieces optimizer barrier — so ProjectCollapse cannot
  * inline the O(n·log n) sort into every element_at reference.
  */
private[llm] object TokenRuns {

  /** Run starts (1-based) in the sorted token array `graft_s_trc`;
    * empty array → [] (guards the descending sequence(1, 0) trap).
    */
  private val startsExpr =
    """CASE WHEN size(graft_s_trc) = 0 THEN CAST(array() AS ARRAY<INT>)
      |ELSE filter(transform(sequence(1, size(graft_s_trc)), i ->
      |  IF(i = 1 OR element_at(graft_s_trc, i) <> element_at(graft_s_trc, i - 1),
      |     CAST(i AS INT), CAST(NULL AS INT))), x -> x IS NOT NULL)
      |END""".stripMargin

  /** (tok, tf) per run: count = next run start (or array end) − this
    * run's start.
    */
  private val pairsExpr =
    """CASE WHEN size(graft_r_trc) = 0
      |  THEN CAST(array() AS ARRAY<STRUCT<tok: STRING, tf: BIGINT>>)
      |ELSE transform(sequence(1, size(graft_r_trc)), k ->
      |  struct(element_at(graft_s_trc, element_at(graft_r_trc, k)) AS tok,
      |         CAST(IF(k < size(graft_r_trc), element_at(graft_r_trc, k + 1),
      |                 size(graft_s_trc) + 1) - element_at(graft_r_trc, k)
      |              AS BIGINT) AS tf))
      |END""".stripMargin

  /** Append per-row (tokName, tfName) columns by exploding `ws`'s run
    * counts — one output row per DISTINCT token of the row, count in
    * tfName. Rows whose `ws` is empty or NULL produce no output (the
    * explode-of-empty semantics the grouped form had). NULL is folded to
    * the empty array first: with ANSI off `size(NULL)` is -1, not NULL,
    * and would otherwise walk a descending run sequence.
    */
  def explodeCounts(df: DataFrame, ws: Column, tokName: String,
                    tfName: String): DataFrame =
    df.withColumn("graft_s_trc", explode(array(array_sort(coalesce(ws, array())))))
      .withColumn("graft_r_trc", explode(array(expr(startsExpr))))
      .withColumn("graft_kv_trc", explode(expr(pairsExpr)))
      .withColumn(tokName, col("graft_kv_trc.tok"))
      .withColumn(tfName, col("graft_kv_trc.tf"))
      .drop("graft_s_trc", "graft_r_trc", "graft_kv_trc")
}
