package graft.sources

import graft.core.{ChunkPlanner, NormalizedHit, ScanChunk}
import graft.evidence.{EvidenceOpen, EvidenceRef}
import graft.pipeline.CarvePipeline.ChunkScanner
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util

/** DataSource V2 evidence table (SURVEY §1.1 / §7.3 "optional custom DSv2
  * source"): exposes a raw image as a table of overlapping chunk rows
  *
  * {{{
  * spark.read.format("graft.sources.EvidenceSource")
  *   .option("path", "/data/image.dd")
  *   .option("chunkSize", 512L * 1024 * 1024)
  *   .option("overlap", 65536)
  *   .load()    // (chunk_id LONG, start LONG, valid_length LONG, data BINARY)
  * }}}
  *
  * `planInputPartitions` emits one partition per chunk, so scan
  * parallelism == chunk count and each task preads exactly its range —
  * the shape that scales to a 1000-executor cluster. Column pruning is
  * honored: a query that never touches `data` never reads the image
  * payload (only the header for the length).
  *
  * With `.option("mode", "hits")` each task instead runs the signature
  * half of the stage-1 kernel (`CarvePipeline.ChunkScanner`) over its
  * chunk and emits hit rows or pushed partial counts. Both modes share
  * one partition plan ([[EvidenceChunkScan]]).
  */
class EvidenceSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (Option(options.get("mode")).contains("hits")) EvidenceSource.HitsSchema
    else EvidenceSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    val format = Option(opts.get("format")).getOrElse("auto")
    val chunkSize = Option(opts.get("chunksize")).map(_.toLong).getOrElse(512L * 1024 * 1024)
    val overlap = Option(opts.get("overlap")).map(_.toLong).getOrElse(65536L)
    // container dispatch: raw | ewf | auto (default sniffs the EWF
    // signature, so .E01 images need no flag)
    new EvidenceTable(path, format, chunkSize, overlap,
      hits = Option(opts.get("mode")).contains("hits"),
      types = Option(opts.get("types")).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
  }
}

object EvidenceSource {
  val Schema: StructType = StructType(Seq(
    StructField("chunk_id", LongType, nullable = false),
    StructField("start", LongType, nullable = false),
    StructField("valid_length", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** `mode=hits` schema: signature-scan matches after overlap-ownership
    * dedup, one row per hit.
    */
  val HitsSchema: StructType = StructType(Seq(
    StructField("global_offset", LongType, nullable = false),
    StructField("file_type", StringType, nullable = false),
    StructField("pattern_id", StringType, nullable = false)))
}

/** The chunk-row table, or with `hits` the `mode=hits` table. */
private[sources] class EvidenceTable(path: String, format: String, chunkSize: Long, overlap: Long,
    hits: Boolean, types: Option[Seq[String]])
    extends Table with SupportsRead {
  require(path != null, "graft evidence source requires option 'path'")
  override def name(): String = s"${if (hits) "evidence_hits" else "evidence"}(`$path`)"
  override def schema(): StructType = if (hits) EvidenceSource.HitsSchema else EvidenceSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val ref = EvidenceOpen.ref(path, format)
    if (hits) new EvidenceHitsScanBuilder(ref, chunkSize, overlap, types)
    else new EvidenceScanBuilder(ref, chunkSize, overlap)
  }
}

private[sources] class EvidenceScanBuilder(ref: EvidenceRef, chunkSize: Long, overlap: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = EvidenceSource.Schema

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = new EvidenceChunkScan(ref, chunkSize, overlap) {
    override def readSchema(): StructType = required
    override def createReaderFactory(): PartitionReaderFactory =
      new EvidenceReaderFactory(ref, required)
  }
}

/** The partition plan every evidence scan shares: one partition per
  * chunk of [[ChunkPlanner]]'s rule, so each task preads exactly its
  * range.
  */
private[sources] abstract class EvidenceChunkScan(ref: EvidenceRef, chunkSize: Long, overlap: Long)
    extends Scan with Batch {
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val len = {
      val r = ref.open()
      try r.length finally r.close()
    }
    ChunkPlanner.planLocal(len, chunkSize, overlap).map(EvidenceChunkPartition(_): InputPartition).toArray
  }
}

private[sources] case class EvidenceChunkPartition(chunk: ScanChunk) extends InputPartition

/** `mode=hits`: the signature scan itself runs INSIDE the DSv2 scan, and
  * `file_type` predicates push down into automaton construction — a
  * `WHERE file_type IN ('jpeg','png')` compiles an Aho–Corasick over
  * just those types' patterns, so the per-byte scan work shrinks with
  * the query instead of scanning all 43 patterns and filtering rows
  * after (the `--types` semantics of the reference's
  * filter_file_types, src/config.rs, applied at the source).
  */
private[sources] class EvidenceHitsScanBuilder(ref: EvidenceRef, chunkSize: Long,
    overlap: Long, typesOption: Option[Seq[String]])
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In}

  // LIMIT n caps each partition's emitted hit rows at n (partial
  // pushdown — Spark's CollectLimit still trims globally, so results
  // stay exact). A preview `LIMIT 100` over a 100 TB image then
  // finishes after the first partition instead of shipping every hit
  // row; the byte scan itself stays chunk-granular (a chunk is the
  // atom of work). Spark only pushes the limit when no residual
  // filter sits between it and the scan, so the cap can never starve
  // a filtered query of rows.
  private var limitN: Option[Int] = None

  override def pushLimit(limit: Int): Boolean = {
    limitN = Some(limit)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  private var required: StructType = EvidenceSource.HitsSchema
  private var pushed: Array[Filter] = Array.empty
  // Some(true) = COUNT(*) GROUP BY file_type pushed; Some(false) =
  // global COUNT(*) pushed. Partial-aggregate contract: each partition
  // emits its own counts and Spark's final agg sums them, so the scan
  // ships one row per (partition, type) instead of one row per hit —
  // at a 100 TB image that is the scan→agg traffic collapsing from
  // billions of hit rows to |partitions|·|types|.
  private var aggMode: Option[Boolean] = None

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    val oneCountStar = agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar]
    val gb = agg.groupByExpressions
    val grouped = gb.length == 1 && (gb(0) match {
      case f: NamedReference => f.fieldNames.toSeq == Seq("file_type")
      case _ => false
    })
    if (oneCountStar && (grouped || gb.isEmpty)) { aggMode = Some(grouped); true }
    else false
  }
  // None = no pruning (full pattern set); Some(s) = AND-intersection of
  // the `types` option (the --types analog for WHERE-less jobs) and
  // every accepted file_type predicate
  private var allowedTypes: Option[Set[String]] = typesOption.map(_.toSet)

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.filter {
      case EqualTo("file_type", _: String) => true
      case In("file_type", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    accepted.foreach {
      case EqualTo(_, v: String) => intersect(Set(v))
      case In(_, vs) => intersect(vs.map(_.asInstanceOf[String]).toSet)
      case _ => ()
    }
    pushed = accepted
    // Return EVERY filter as residual: pruning the pattern set is a
    // performance hint, not an exact evaluation — filterFileTypes is
    // case-insensitive and expands container families (docx→zip,
    // doc→ole), so the pruned scan can emit rows the predicate
    // rejects (e.g. 'zip' rows for a 'docx' ask). Spark re-applies
    // the predicate post-scan, keeping results exact while the
    // automaton still compiles only the asked-for patterns.
    filters
  }

  private def intersect(s: Set[String]): Unit =
    allowedTypes = Some(allowedTypes.fold(s)(_ intersect s))

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new EvidenceHitsScan(ref, chunkSize, overlap,
    allowedTypes.map(_.toSeq.sorted), required, limitN, aggMode)
}

/** The `mode=hits` scan. Without a pushed aggregate it emits one row per
  * hit, capped per partition at the pushed limit. With a pushed COUNT(*)
  * (`countGrouped` = Some(grouped)) it emits one partial-count row per
  * (partition, file_type), or one per partition for a global COUNT(*);
  * Spark's final aggregation sums the partials.
  */
private[graft] class EvidenceHitsScan(ref: EvidenceRef, chunkSize: Long,
    overlap: Long, val pushedTypes: Option[Seq[String]], required: StructType,
    val pushedLimit: Option[Int], countGrouped: Option[Boolean])
    extends EvidenceChunkScan(ref, chunkSize, overlap) {
  override def readSchema(): StructType = countGrouped match {
    case Some(grouped) => StructType(
      (if (grouped) Seq(StructField("file_type", StringType, nullable = false)) else Nil) :+
        StructField("count", LongType, nullable = false))
    case None => required
  }
  override def description(): String = {
    val types = s"PushedTypes: ${pushedTypes.map(_.mkString("[", ",", "]")).getOrElse("ALL")}"
    countGrouped match {
      case Some(grouped) => "graft evidence hits, PushedAggregation: count(*)" +
        (if (grouped) " group by file_type" else "") + s", $types"
      case None => s"graft evidence hits, $types" + pushedLimit.map(n => s", PushedLimit: $n").getOrElse("")
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EvidenceHitsReaderFactory(ref, pushedTypes, required, pushedLimit, countGrouped)
}

private[sources] object EvidenceHitsReaderFactory {
  // PartitionReaderFactory instances deserialize once PER TASK, so a
  // lazy val would recompile the automaton for every chunk partition.
  // This JVM-level cache (keyed by the pruned type set) makes the
  // compile once-per-executor for real — at a 100 TB image's ~200k
  // partitions that is the difference between 1 and 200k compiles.
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, ChunkScanner]()

  private[sources] def scannerFor(types: Option[Seq[String]]): ChunkScanner =
    cache.computeIfAbsent(types.map(_.mkString(",")).getOrElse("\u0000ALL"), _ => {
      val (cfg, _) = graft.carve.EngineConfig.filterFileTypes(
        graft.carve.EngineConfig(), types, disableZip = false)
      ChunkScanner(cfg, runId = "", enableStrings = false, enableEntropy = false)
    })
}

/** Reads a chunk once, takes the signature half of the shared stage-1
  * kernel over it, then emits hit rows or partial counts (see
  * [[EvidenceHitsScan]]).
  */
private[sources] class EvidenceHitsReaderFactory(ref: EvidenceRef,
    types: Option[Seq[String]], schema: StructType, limit: Option[Int],
    countGrouped: Option[Boolean])
    extends PartitionReaderFactory {
  @transient private lazy val scanner = EvidenceHitsReaderFactory.scannerFor(types)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val chunk = partition.asInstanceOf[EvidenceChunkPartition].chunk
    new PartitionReader[InternalRow] {
      private lazy val reader = ref.open()
      private lazy val rows: Iterator[InternalRow] = {
        val buf = new Array[Byte](chunk.length.toInt)
        val hits = scanner.hits(chunk, buf, reader.readFully(chunk.start, buf, 0, buf.length))
        def typeOf(h: NormalizedHit) = scanner.signatures.patterns(h.patternId)
        countGrouped match {
          case Some(true) =>
            hits.groupBy(h => typeOf(h).fileTypeId).toSeq.sortBy(_._1).iterator
              .map { case (ft, hs) => InternalRow(UTF8String.fromString(ft), hs.size.toLong) }
          case Some(false) => Iterator.single(InternalRow(hits.size.toLong))
          case None => limit.fold(hits.iterator)(hits.iterator.take).map { h =>
            val pat = typeOf(h)
            InternalRow.fromSeq(schema.fields.toIndexedSeq.map {
              _.name match {
                case "global_offset" => h.globalOffset
                case "file_type" => UTF8String.fromString(pat.fileTypeId)
                case "pattern_id" => UTF8String.fromString(pat.patternId)
              }
            })
          }
        }
      }

      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow = rows.next()
      override def close(): Unit = reader.close()
    }
  }
}

private[sources] class EvidenceReaderFactory(ref: EvidenceRef, schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val chunk = partition.asInstanceOf[EvidenceChunkPartition].chunk
    new PartitionReader[InternalRow] {
      private var emitted = false
      private lazy val reader = ref.open()

      override def next(): Boolean = !emitted

      override def get(): InternalRow = {
        emitted = true
        val values = schema.fields.map {
          _.name match {
            case "chunk_id" => chunk.id
            case "start" => chunk.start
            case "valid_length" => chunk.validLength
            case "data" =>
              val buf = new Array[Byte](chunk.length.toInt)
              val got = reader.readFully(chunk.start, buf, 0, buf.length)
              if (got == buf.length) buf else java.util.Arrays.copyOf(buf, got)
          }
        }
        InternalRow.fromSeq(values.toIndexedSeq)
      }

      override def close(): Unit = reader.close()
    }
  }
}
