package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, EOFException, File, FileInputStream, FileOutputStream,
  RandomAccessFile}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit,
  SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset,
  ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GSH — a minimal binary document-shard format with a full DataSource
  * V2 reader (SURVEY §2.10's substrate tier, taken past what
  * `spark.read` gives for free): this is the "custom source" proof that
  * the engine can ingest a format Spark has no built-in reader for
  * WITHOUT giving up the scan-level optimizations the parquet path
  * enjoys. The reader implements
  *
  *  - SupportsPushDownRequiredColumns — a projection that drops `text`
  *    makes the decoder SKIP the text payload bytes entirely (the
  *    dominant field), the binary analogue of parquet column pruning;
  *  - SupportsPushDownFilters — doc_id range/equality predicates prune
  *    whole shards at PLANNING time via each file's footer min/max
  *    (zone-map pruning) and skip non-matching rows at read time. All
  *    filters are also returned as residuals, so Spark re-evaluates
  *    them — correctness never depends on the source's own filtering
  *    (the standard belt-and-braces DSv2 contract);
  *  - SupportsReportStatistics — surviving-shard row counts feed the
  *    optimizer's size estimate (so a pruned GSH side can broadcast).
  *
  * File layout (DataOutputStream big-endian): per row
  * `[doc_id i64][n_chars i64][lang u16+bytes][source u16+bytes]
  * [text i32+bytes]`, then a 24-byte footer `[rowCount i32][minDocId
  * i64][maxDocId i64][magic i32]`. Metadata lives in a FOOTER so the
  * writer streams rows without buffering a shard or re-seeking — the
  * layout a distributed writer needs (HDFS streams are append-only).
  *
  * Writer determinism: shards are fixed doc_id ranges (shard i covers
  * [lo + i·step, lo + (i+1)·step)), rows sorted by doc_id within each
  * shard — so the staged file SET and each file's content are
  * reproducible, and the footer zone maps are tight and disjoint,
  * which is what makes planning-time pruning effective.
  *
  * Scale shape: one InputPartition per shard file (a real deployment
  * sizes shards to the FS block size); planning reads only 24-byte
  * footers; a pruned scan never opens the pruned files at all. The
  * spec pins all three behaviors from the physical plan and the
  * planning hook; q232 hash-verifies a pruned+projected aggregate
  * against DuckDB reading the same rows from parquet.
  */
object GShard {

  val Magic: Int = 0x47534831 // "GSH1"
  val FooterLen: Int = 24

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("text", StringType)))

  /** Write `docs` (documents-shaped) as range-sharded .gsh files under
    * `outDir`, through the DSv2 WRITE path (GShardBatchWrite): one
    * shuffle on the shard key, then each task's DataWriter streams rows
    * and rolls to a new file whenever the doc_id range changes — temp
    * files promoted atomically at driver commit (the two-phase V2
    * protocol), so a failed job never leaves a half-written shard
    * visible.
    */
  def write(docs: DataFrame, outDir: String, nShards: Int): Unit = {
    val b = docs.agg(org.apache.spark.sql.functions.min("doc_id"),
      org.apache.spark.sql.functions.max("doc_id")).head
    require(!b.isNullAt(0), s"GShard.write: input has no rows (outDir=$outDir)")
    val lo = b.getLong(0)
    val step = math.max(1L, (b.getLong(1) - lo + nShards) / nShards)
    // EXACT long division for the shard key — the writer's rangeOf uses
    // integer division, and a double-rounded ((x-lo)/step).cast("int")
    // can disagree past 2^53, breaking within-partition range contiguity
    // (two temp files rolling to the same final shard name fails the
    // driver commit's no-clobber guard). `div` is Catalyst's integral
    // divide: bit-identical to the writer's (doc_id - lo) / step.
    docs.select("doc_id", "lang", "source", "n_chars", "text")
      .withColumn("__shard",
        org.apache.spark.sql.functions.expr(s"int((doc_id - ${lo}L) div ${step}L)"))
      .repartition(nShards, col("__shard"))
      .sortWithinPartitions("__shard", "doc_id")
      .drop("__shard")
      .write.format("graft.sources.GShardSource")
      .option("shard.lo", lo.toString)
      .option("shard.step", step.toString)
      .mode("overwrite")
      .save(outDir)
    // sharding metadata sidecar: lets the SCAN report its key-grouped
    // layout (SupportsReportPartitioning / storage-partitioned join).
    // Written AFTER the commit so a failed job leaves no meta; absent
    // meta just means the scan reports unknown partitioning.
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, MetaFile),
      s"$lo,$step\n".getBytes("UTF-8"))
  }

  private[sources] val MetaFile = "_gshard_meta"

  /** (lo, step) of a directory written by [[write]], if recorded. */
  def readMeta(path: String): Option[(Long, Long)] =
    try {
      val p = java.nio.file.Paths.get(path, MetaFile)
      if (!java.nio.file.Files.exists(p)) None
      else {
        val parts = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .trim.split(",")
        Some((parts(0).toLong, parts(1).toLong))
      }
    } catch { case _: Throwable => None }

  /** Footer of one shard file: (rowCount, minDocId, maxDocId). */
  def readFooter(f: File): (Int, Long, Long) = {
    val raf = new RandomAccessFile(f, "r")
    try {
      // a truncated/zero-byte file (an external producer's partial copy)
      // would otherwise seek(-N) and kill planning with an IOException
      // that never names the file (review finding, r14)
      require(raf.length() >= FooterLen, s"not a GSH file (too short): $f")
      raf.seek(raf.length() - FooterLen)
      val n = raf.readInt(); val lo = raf.readLong(); val hi = raf.readLong()
      require(raf.readInt() == Magic, s"not a GSH file: $f")
      (n, lo, hi)
    } finally raf.close()
  }

  /** doc_id bounds implied by the pushed filters: (lower, upper),
    * inclusive. Only conjunctive range/equality shapes arrive here —
    * Spark splits top-level ANDs before pushdown.
    */
  def docIdBounds(pushed: Array[Filter]): (Long, Long) = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    def num(v: Any): Long = v match {
      case l: Long => l
      case i: Int  => i.toLong
      case other   => throw new IllegalArgumentException(s"$other")
    }
    // saturating ±1 on the strict bounds: doc_id > Long.MaxValue must
    // not wrap lo around to MinValue (which would silently disable all
    // pruning); erring toward keeping one extreme-literal shard is
    // harmless — the residual filter still applies
    def incSat(x: Long): Long = if (x == Long.MaxValue) x else x + 1
    def decSat(x: Long): Long = if (x == Long.MinValue) x else x - 1
    pushed.foreach {
      case GreaterThan("doc_id", v)        => lo = math.max(lo, incSat(num(v)))
      case GreaterThanOrEqual("doc_id", v) => lo = math.max(lo, num(v))
      case LessThan("doc_id", v)           => hi = math.min(hi, decSat(num(v)))
      case LessThanOrEqual("doc_id", v)    => hi = math.min(hi, num(v))
      case EqualTo("doc_id", v)            => lo = math.max(lo, num(v)); hi = math.min(hi, num(v))
      case _                               => ()
    }
    (lo, hi)
  }

  def isDocIdRange(f: Filter): Boolean = f match {
    case GreaterThan("doc_id", v)        => v.isInstanceOf[Long] || v.isInstanceOf[Int]
    case GreaterThanOrEqual("doc_id", v) => v.isInstanceOf[Long] || v.isInstanceOf[Int]
    case LessThan("doc_id", v)           => v.isInstanceOf[Long] || v.isInstanceOf[Int]
    case LessThanOrEqual("doc_id", v)    => v.isInstanceOf[Long] || v.isInstanceOf[Int]
    case EqualTo("doc_id", v)            => v.isInstanceOf[Long] || v.isInstanceOf[Int]
    case _                               => false
  }
}

/** The TableProvider: `spark.read.format("graft.sources.GShardSource")
  * .load(dir)`. Schema is fixed (documents-shaped).
  */
class GShardSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GShard.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GShardTable(properties.get("path"))
}

object GShardSource {
  /** Planning observability for the spec: (files considered, files kept)
    * of the most recent planInputPartitions call in this JVM.
    */
  @volatile var lastPlanned: (Int, Int) = (0, 0)

  /** True when the most recent batch planning served a pushed
    * aggregation straight from the footers (no row section opened).
    */
  @volatile var lastAggPushed: Boolean = false
}

class GShardTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"gshard:$path"
  override def schema(): StructType = GShard.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GShardScanBuilder(path, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GShardWriteBuilder(path, info)
}

class GShardScanBuilder(path: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  private var required: StructType = GShard.schema
  private var pushed: Array[Filter] = Array.empty
  private var aggFns: Option[Seq[String]] = None
  private var limit: Int = Int.MaxValue

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GShard.isDocIdRange)
    filters // everything stays residual: Spark re-evaluates (correctness
            // does not rest on the source's row skipping)
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(s: StructType): Unit = required = s

  /** Footer-servable aggregates: a filterless, ungrouped COUNT(*) /
    * MIN(doc_id) / MAX(doc_id) never opens a shard's row section — the
    * zone-map footers ARE the answer. Anything else (a filter, a group
    * key, another column) is declined and runs as a normal scan.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    def docIdRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case nr: NamedReference => nr.fieldNames.sameElements(Array("doc_id"))
        case _                  => false
      }
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return false
    val fns = agg.aggregateExpressions().map {
      case _: CountStar            => Some("count")
      case m: Min if docIdRef(m.column()) => Some("min")
      case m: Max if docIdRef(m.column()) => Some("max")
      case _                       => None
    }
    if (fns.exists(_.isEmpty)) false
    else { aggFns = Some(fns.flatten.toSeq); true }
  }

  /** Partial-pushdown IO bound: each partition reader stops decoding
    * after `n` rows (Spark still applies the authoritative LIMIT).
    */
  override def pushLimit(n: Int): Boolean = { limit = n; true }

  // both limit and top-n are PARTIAL pushdowns here (diamond default
  // from the two traits must be disambiguated explicitly)
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY doc_id ASC LIMIT n: rows inside every shard are
    * physically doc_id-sorted (the writer's sortWithinPartitions
    * contract), so the per-shard first n rows are a superset of the
    * global top-n — the same per-partition truncation as pushLimit,
    * legal here ONLY because the requested order matches the storage
    * order. Anything else is declined. Partial pushdown: Spark still
    * runs the authoritative final TopN.
    */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    val ok = orders.length == 1 && (orders.head.expression() match {
      case nr: NamedReference => nr.fieldNames.sameElements(Array("doc_id")) &&
        orders.head.direction() ==
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING
      case _ => false
    })
    if (ok) limit = math.min(limit, n)
    ok
  }

  override def build(): Scan = new GShardScan(path, required, pushed,
    options.getInt("maxfilespertrigger", Int.MaxValue), aggFns, limit)
}

/** One shard file. `key` is the shard index ((minDocId − lo) / step)
  * when the directory carries sharding metadata — the partition key the
  * storage-partitioned join groups on (HasPartitionKey).
  */
case class GShardPartition(file: String, rows: Int, key: Long = 0L)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](key))
}

class GShardScan(path: String, required: StructType, pushed: Array[Filter],
    maxFilesPerTrigger: Int = Int.MaxValue,
    aggFns: Option[Seq[String]] = None, limit: Int = Int.MaxValue)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // shard partitions read vectorized, the synthetic aggregate partition
  // row-based — the factory decides per partition
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.PARTITION_DEFINED

  // ------------------------------------------------- runtime filtering
  // DPP-style: when this scan probes a join whose build side is small,
  // the engine hands the build side's doc_id set here BEFORE partition
  // planning, and whole shards are pruned against it via the footer
  // zone maps — dynamic partition pruning for the custom format.
  private var runtimeIds: Option[Array[Long]] = None

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("doc_id"))

  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case org.apache.spark.sql.sources.In("doc_id", vs) =>
        runtimeIds = Some(vs.collect {
          case l: java.lang.Long    => l.longValue()
          case i: java.lang.Integer => i.longValue()
        }.sorted)
      case _ => ()
    }

  /** Any runtime id inside [mn, mx]? (binary search on the sorted set) */
  private def idsOverlap(mn: Long, mx: Long): Boolean = runtimeIds match {
    case None => true
    case Some(ids) =>
      val i = java.util.Arrays.binarySearch(ids, mn)
      val from = if (i >= 0) i else -i - 1
      from < ids.length && ids(from) <= mx
  }

  override def readSchema(): StructType = aggFns match {
    case Some(fns) => StructType(fns.zipWithIndex.map { case (f, i) =>
      StructField(s"${f}_$i", LongType, nullable = f != "count") })
    case None => required
  }
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GShardMicroBatchStream(path, required, pushed, maxFilesPerTrigger)
  override def description(): String =
    s"GShardScan(path=$path, pushed=[${pushed.mkString(", ")}], " +
      s"agg=${aggFns.map(_.mkString("+")).getOrElse("none")}, " +
      s"limit=${if (limit == Int.MaxValue) "none" else limit.toString})"

  // a def, not a lazy val: runtime filters arrive AFTER estimateStatistics
  // may have forced planning, so each planning call re-reads the (cheap,
  // 24-byte) footers against the current filter state; a cluster
  // deployment would cache the footer listing per snapshot
  private lazy val meta: Option[(Long, Long)] = GShard.readMeta(path)

  private def planned: Array[GShardPartition] = {
    val (lo, hi) = GShard.docIdBounds(pushed)
    val files = Option(new File(path).listFiles())
      .getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".gsh")).sortBy(_.getName)
    val kept = files.flatMap { f =>
      val (n, mn, mx) = GShard.readFooter(f)
      // zone-map overlap test: skip shards wholly outside the static
      // bounds OR holding none of the runtime join keys
      if (mx < lo || mn > hi || n == 0 || !idsOverlap(mn, mx)) None
      else {
        // shard index from the metadata sidecar — the writer guarantees
        // one file per shard, so the index is a valid partition KEY
        val key = meta.map { case (mlo, step) => (mn - mlo) / step }.getOrElse(0L)
        Some(GShardPartition(f.getAbsolutePath, n, key))
      }
    }
    GShardSource.lastPlanned = (files.length, kept.length)
    kept
  }

  /** Storage-partitioned-join surface: shards are doc_id-range-DISJOINT
    * (the writer's contract), so every doc_id lives in exactly one
    * partition — the key-grouped guarantee. The clustering transform is
    * `shard_<lo>_<step>(doc_id)`, resolved by [[GShardCatalog]]; baking
    * the layout parameters into the FUNCTION NAME makes two directories
    * with different sharding report INCOMPATIBLE transforms (Spark then
    * falls back to a shuffle) while same-layout directories plan the
    * join partition-wise with no Exchange on either GShard side.
    * Engages only for catalog-loaded tables (spark.table("gshard.`dir`"))
    * with spark.sql.sources.v2.bucketing.enabled — the reader-path
    * `.format(...).load` has no function catalog and keeps its plans.
    */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    meta match {
      case Some((lo, step)) if aggFns.isEmpty =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.apply(
            s"shard_${lo}_$step",
            org.apache.spark.sql.connector.expressions.Expressions.column("doc_id"))),
          planned.length)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          planInputPartitions().length)
    }

  override def planInputPartitions(): Array[InputPartition] = aggFns match {
    case Some(fns) =>
      // answer the whole aggregation from the 24-byte footers at
      // planning time: one synthetic partition, zero row decodes
      val footers = Option(new File(path).listFiles())
        .getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".gsh")).map(GShard.readFooter)
      val cnt = footers.map(_._1.toLong).sum
      val mn = if (cnt == 0) null else java.lang.Long.valueOf(footers.filter(_._1 > 0).map(_._2).min)
      val mx = if (cnt == 0) null else java.lang.Long.valueOf(footers.filter(_._1 > 0).map(_._3).max)
      GShardSource.lastAggPushed = true
      val values: Seq[Any] = fns.map {
        case "count" => cnt
        case "min"   => mn
        case "max"   => mx
      }
      Array(GShardAggPartition(values))
    case None =>
      GShardSource.lastAggPushed = false
      planned.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GShardReaderFactory(required, GShard.docIdBounds(pushed), limit)

  override def estimateStatistics(): Statistics = new Statistics {
    // upper bound from the surviving footers; ~120 bytes/row fixture avg
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(planned.map(_.rows.toLong).sum * 120L)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(planned.map(_.rows.toLong).sum)
  }
}

case class GShardAggPartition(values: Seq[Any]) extends InputPartition

class GShardReaderFactory(required: StructType, bounds: (Long, Long),
    limit: Int = Int.MaxValue)
    extends PartitionReaderFactory {
  // only the synthetic aggregate partition reads row-based: one row of
  // footer values
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val a = p.asInstanceOf[GShardAggPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(a.values.toArray)
      override def close(): Unit = ()
    }
  }

  // shard partitions, batch and micro-batch alike, decode straight into
  // on-heap column vectors (1024-row batches); the synthetic aggregate
  // partition stays row-based (PARTITION_DEFINED on the scan)
  override def supportColumnarReads(p: InputPartition): Boolean =
    p.isInstanceOf[GShardPartition]

  override def createColumnarReader(p: InputPartition):
      PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val gp = p.asInstanceOf[GShardPartition]
    new GShardColumnarReader(gp.file, gp.rows, required, bounds._1, bounds._2, limit)
  }
}

/** The shard decoder. Decodes ONLY the projected fields: with `text`
  * pruned the payload bytes are skipped, not read — the point of the
  * custom reader — and rows outside the pushed doc_id bounds are skipped
  * too. Rows land in 1024-row ColumnarBatches of OnHeapColumnVectors, so
  * downstream whole-stage codegen consumes the custom format exactly as
  * it consumes parquet's vectorized reader. A pushed LIMIT stops the
  * decode once this partition produced enough rows (partial pushdown —
  * Spark applies the authoritative limit).
  */
class GShardColumnarReader(file: String, rows: Int, required: StructType,
    lo: Long, hi: Long, limit: Int)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  private val Cap = 1024
  private val in = new DataInputStream(new BufferedInputStream(
    new FileInputStream(file), 1 << 16))
  private val vectors =
    org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
      .allocateColumns(Cap, required)
  private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
    vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))
  private val ordinals = required.fieldNames.zipWithIndex.toMap
  private val needLang = ordinals.contains("lang")
  private val needSource = ordinals.contains("source")
  private val needText = ordinals.contains("text")
  private var remaining = rows
  private var kept = 0

  private def skipFully(n: Int): Unit = {
    var left = n.toLong
    while (left > 0) {
      val s = in.skip(left)
      if (s <= 0) { if (in.read() < 0) throw new EOFException(file); left -= 1 }
      else left -= s
    }
  }

  private def readOrSkip(len: Int, need: Boolean, col: Int, row: Int): Unit =
    if (need) {
      val b = new Array[Byte](len); in.readFully(b)
      vectors(col).putByteArray(row, b)
    } else skipFully(len)

  override def next(): Boolean = {
    vectors.foreach(_.reset())
    var n = 0
    while (n < Cap && remaining > 0 && kept < limit) {
      remaining -= 1
      val id = in.readLong()
      val nChars = in.readLong()
      val keep = id >= lo && id <= hi
      if (keep) {
        ordinals.get("doc_id").foreach(i => vectors(i).putLong(n, id))
        ordinals.get("n_chars").foreach(i => vectors(i).putLong(n, nChars))
      }
      val langLen = in.readUnsignedShort()
      readOrSkip(langLen, keep && needLang, if (needLang) ordinals("lang") else 0, n)
      val srcLen = in.readUnsignedShort()
      readOrSkip(srcLen, keep && needSource, if (needSource) ordinals("source") else 0, n)
      val textLen = in.readInt()
      readOrSkip(textLen, keep && needText, if (needText) ordinals("text") else 0, n)
      if (keep) { n += 1; kept += 1 }
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = { batch.close(); in.close() }
}

// ------------------------------------------------------------- streaming

/** Offset = the lexicographic NAME WATERMARK of the last processed
  * shard file ("" before any). A static staged directory plays back as
  * a genuine multi-batch stream under maxFilesPerTrigger (the
  * file-source admission idiom); a growing directory streams new shards
  * as they land PROVIDED names are append-ordered (new files sort after
  * the watermark — timestamped/job-sequenced names, the log-structured
  * ingest convention). A name-based watermark is what makes that safe:
  * a positional index into a re-sorted listing would silently re-read
  * and skip files when a late file sorted below processed ones; files
  * that DO land below the watermark are ignored by contract (the
  * alternative — FileStreamSource's seen-files map — buys arbitrary
  * arrival order at the cost of unbounded tracking state).
  */
case class GShardOffset(watermark: String) extends Offset {
  override def json(): String = watermark
}

class GShardMicroBatchStream(path: String, required: StructType,
    pushed: Array[Filter], maxFilesPerTrigger: Int)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def files: Array[File] =
    Option(new File(path).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".gsh")).sortBy(_.getName)

  override def initialOffset(): Offset = GShardOffset("")
  override def deserializeOffset(json: String): Offset = GShardOffset(json)

  // admission control, the proper API: the engine hands us the previous
  // end offset and the rate limit, we return the admitted end — no
  // mutable cursor in the source
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val wm = start.asInstanceOf[GShardOffset].watermark
    val pending = files.map(_.getName).filter(_ > wm)
    val step = limit match {
      case mf: ReadMaxFiles => math.max(1, mf.maxFiles())
      case _                => pending.length
    }
    if (pending.isEmpty) start
    else GShardOffset(pending.take(step).last)
  }

  override def reportLatestOffset(): Offset = {
    val names = files.map(_.getName)
    GShardOffset(if (names.isEmpty) "" else names.max)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GShardOffset].watermark
    val e = end.asInstanceOf[GShardOffset].watermark
    // zone-map prune with the footer min/max the batch path already
    // applies: the footer is in hand anyway, and without the test a
    // pushed doc_id range still row-decoded every admitted shard only
    // to drop all rows (review finding, r14)
    val (lo, hi) = GShard.docIdBounds(pushed)
    files.filter(f => f.getName > s && f.getName <= e).flatMap { f =>
      val (n, mn, mx) = GShard.readFooter(f)
      if (mx < lo || mn > hi) None
      else Some(GShardPartition(f.getAbsolutePath, n): InputPartition)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GShardReaderFactory(required, GShard.docIdBounds(pushed))

  override def commit(end: Offset): Unit = () // offsets live in the checkpoint
  override def stop(): Unit = ()
}

// ----------------------------------------------------------------- write

/** DSv2 write path with the standard two-phase protocol: each task's
  * DataWriter streams rows into TEMP files (rolling to a new file when
  * the doc_id range — from the shard.lo/shard.step options — changes,
  * so zone maps stay tight), the commit messages carry the temp paths,
  * and the driver promotes them to `shard-*.gsh` names atomically at
  * job commit (truncating first under SaveMode.Overwrite). A failed or
  * speculative task never publishes a partial shard.
  */
class GShardWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def buildForBatch(): BatchWrite = {
    val inSchema = info.schema()
    // validate TYPES, not just names: the DataWriter reads fixed-width
    // slots (getLong/getUTF8String), so a wrong-typed column would write
    // silent garbage at task time instead of failing here
    GShard.schema.foreach { f =>
      require(inSchema.fieldNames.contains(f.name),
        s"GSH write needs column ${f.name} " +
          s"(got ${inSchema.fieldNames.mkString(", ")})")
      val got = inSchema(f.name).dataType
      require(got == f.dataType,
        s"GSH write: column ${f.name} must be ${f.dataType.catalogString}, " +
          s"got ${got.catalogString}")
    }
    new GShardBatchWrite(path, inSchema, doTruncate, info.queryId(),
      Option(info.options.get("shard.lo")).map(_.toLong),
      Option(info.options.get("shard.step")).map(_.toLong))
  }
}

case class GShardCommit(tempPath: String, finalName: String)
    extends WriterCommitMessage

class GShardBatchWrite(path: String, schema: StructType, doTruncate: Boolean,
    queryId: String, lo: Option[Long], step: Option[Long]) extends BatchWrite {

  // overwrite keeps the stable, reproducible names (the dir was just
  // truncated — no collision possible); APPEND prefixes the engine's
  // queryId so a second job can never silently clobber an earlier job's
  // shards via the rename
  private val namePrefix =
    if (doTruncate) "shard" else s"shard-${queryId.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GShardWriterFactory(path, schema, namePrefix, lo, step)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new File(path)
    dir.mkdirs()
    if (doTruncate)
      Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".gsh")).foreach(f => { val _ = f.delete() })
    messages.foreach {
      case t: GShardTaskCommit => t.parts.foreach { c =>
        val dest = new File(dir, c.finalName)
        require(!dest.exists(), s"commit would clobber existing $dest")
        val ok = new File(c.tempPath).renameTo(dest)
        require(ok, s"commit rename failed: ${c.tempPath} -> ${c.finalName}")
      }
      case _ => ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case t: GShardTaskCommit =>
        t.parts.foreach(c => { val _ = new File(c.tempPath).delete() })
      case _ => ()
    }
}

class GShardWriterFactory(path: String, schema: StructType, namePrefix: String,
    lo: Option[Long], step: Option[Long]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GShardDataWriter(path, schema, namePrefix, partitionId, taskId, lo, step)
}

class GShardDataWriter(path: String, schema: StructType, namePrefix: String,
    partitionId: Int, taskId: Long, lo: Option[Long], step: Option[Long])
    extends DataWriter[InternalRow] {

  private val iDoc = schema.fieldIndex("doc_id")
  private val iLang = schema.fieldIndex("lang")
  private val iSrc = schema.fieldIndex("source")
  private val iChars = schema.fieldIndex("n_chars")
  private val iText = schema.fieldIndex("text")

  private val commits = scala.collection.mutable.ArrayBuffer.empty[GShardCommit]
  private var out: DataOutputStream = null
  private var tempFile: File = null
  private var range = Long.MinValue
  private var n = 0
  private var minId = Long.MaxValue
  private var maxId = Long.MinValue

  private def rangeOf(id: Long): Long =
    (for (l <- lo; s <- step) yield (id - l) / s).getOrElse(0L)

  private def roll(r: Long): Unit = {
    closeFile()
    range = r
    tempFile = File.createTempFile(s"_gsh-$taskId-", ".tmp", {
      val d = new File(path); d.mkdirs(); d
    })
    out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(tempFile)))
    n = 0; minId = Long.MaxValue; maxId = Long.MinValue
  }

  private def closeFile(): Unit = if (out != null) {
    out.writeInt(n); out.writeLong(minId); out.writeLong(maxId)
    out.writeInt(GShard.Magic); out.close()
    out = null
    commits += GShardCommit(tempFile.getAbsolutePath,
      f"$namePrefix%s-p$partitionId%05d-r$range.gsh")
  }

  override def write(row: InternalRow): Unit = {
    // the format cannot encode NULL in any field — fail with a clear
    // message at the offending row instead of an opaque executor NPE
    // (or, for doc_id, a silent 0) after partial work (review finding,
    // r14). Length guards: lang/source lengths are u16 on disk; an
    // oversized value used to TRUNCATE the stored length while writing
    // all bytes, producing an undetectably corrupt shard every reader
    // mis-decodes.
    require(!row.isNullAt(iDoc) && !row.isNullAt(iChars) && !row.isNullAt(iLang)
        && !row.isNullAt(iSrc) && !row.isNullAt(iText),
      "GShard cannot encode NULL values (doc_id/n_chars/lang/source/text)")
    val id = row.getLong(iDoc)
    val r = rangeOf(id)
    if (out == null || r != range) roll(r)
    out.writeLong(id)
    out.writeLong(row.getLong(iChars))
    val lang = row.getUTF8String(iLang).getBytes
    val src = row.getUTF8String(iSrc).getBytes
    require(lang.length <= 0xFFFF && src.length <= 0xFFFF,
      s"lang/source exceed the u16 length field (${lang.length}/${src.length} bytes)")
    out.writeShort(lang.length); out.write(lang)
    out.writeShort(src.length); out.write(src)
    val text = row.getUTF8String(iText).getBytes
    out.writeInt(text.length); out.write(text)
    n += 1
    if (id < minId) minId = id
    if (id > maxId) maxId = id
  }

  override def commit(): WriterCommitMessage = {
    closeFile()
    // one message per task: fold the per-range commits into a composite
    GShardTaskCommit(commits.toArray)
  }

  override def abort(): Unit = {
    if (out != null) { out.close(); out = null }
    commits.foreach(c => { val _ = new File(c.tempPath).delete() })
    if (tempFile != null) { val _ = tempFile.delete() }
  }

  override def close(): Unit = ()
}

case class GShardTaskCommit(parts: Array[GShardCommit]) extends WriterCommitMessage
