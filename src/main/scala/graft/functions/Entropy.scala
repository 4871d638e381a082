package graft.functions

import graft.core.EntropyRegion
import scala.collection.mutable.ArrayBuffer

/** Shannon entropy over byte windows + adjacent-region merge
  * (semantics: reference src/entropy.rs:3-91 — stride == window, regions
  * merged while contiguous, max window entropy kept; threshold default 7.5
  * over 4096-byte windows).
  *
  * Two forms:
  *  - `shannon`: pure function (exposed to SQL as a UDF and used by tests)
  *  - `detectRegions`: per-chunk local merge used inside the scan stage;
  *    the cross-chunk merge (regions touching at chunk boundaries) is the
  *    distributed gaps-and-islands pass in queries/EntropyQueries.
  */
object Entropy {

  def shannon(data: Array[Byte], from: Int, until: Int): Double = {
    val counts = new Array[Int](256)
    var i = from
    while (i < until) { counts(data(i) & 0xff) += 1; i += 1 }
    val len = (until - from).toDouble
    var e = 0.0
    var c = 0
    while (c < 256) {
      val n = counts(c)
      if (n != 0) {
        val p = n / len
        e -= p * (math.log(p) / math.log(2.0))
      }
      c += 1
    }
    e
  }

  def shannon(data: Array[Byte]): Double = shannon(data, 0, data.length)

  def detectRegions(
      chunkStart: Long,
      data: Array[Byte],
      windowSize: Int,
      threshold: Double): Seq[(Long, Long, Double)] =
    detectRegions(chunkStart, data, windowSize, threshold, data.length)

  /** Windowed detection over data[0, until) with local merge, offsets
    * rebased by chunkStart. Windows step by windowSize; a trailing
    * partial window is skipped.
    */
  def detectRegions(
      chunkStart: Long,
      data: Array[Byte],
      windowSize: Int,
      threshold: Double,
      until: Int): Seq[(Long, Long, Double)] = {
    if (windowSize <= 0 || until < windowSize) return Seq.empty
    val regions = ArrayBuffer.empty[(Long, Long, Double)]
    var curStart = -1L
    var curEnd = 0L
    var curMax = 0.0
    var idx = 0
    while (idx + windowSize <= until) {
      val e = shannon(data, idx, idx + windowSize)
      if (e >= threshold) {
        val winStart = chunkStart + idx
        val winEnd = winStart + windowSize - 1
        if (curStart >= 0 && winStart <= curEnd + 1) {
          curEnd = winEnd
          if (e > curMax) curMax = e
        } else {
          if (curStart >= 0) regions += ((curStart, curEnd, curMax))
          curStart = winStart; curEnd = winEnd; curMax = e
        }
      } else if (curStart >= 0) {
        regions += ((curStart, curEnd, curMax))
        curStart = -1L
      }
      idx += windowSize
    }
    if (curStart >= 0) regions += ((curStart, curEnd, curMax))
    regions.toSeq
  }

  def toEntropyRegions(runId: String, windowSize: Int, rs: Seq[(Long, Long, Double)]): Seq[EntropyRegion] =
    rs.map { case (s, e, m) => EntropyRegion(runId, s, e, m, windowSize.toLong) }

  /** Distributed cross-chunk merge: per-chunk regions that touch at chunk
    * boundaries coalesce via gaps-and-islands (lag + running island id
    * over a window ordered by start) — the SURVEY §2.5 mapping. One
    * shuffle over the (tiny) region set.
    */
  def mergeRegions(ds: org.apache.spark.sql.Dataset[EntropyRegion]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("runId"), col("windowSize")).orderBy(col("globalStart"))
    ds.toDF()
      .withColumn("prev_end", lag(col("globalEnd"), 1).over(w))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("globalStart") > col("prev_end") + 1, 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("runId"), col("windowSize"), col("island"))
      .agg(
        min(col("globalStart")).as("globalStart"),
        max(col("globalEnd")).as("globalEnd"),
        max(col("entropy")).as("entropy"))
      .select(col("runId"), col("globalStart"), col("globalEnd"), col("entropy"), col("windowSize"))
  }
}
