package graft.datasource

import graft.engine.BlockCodec
import graft.model.EncodedBlock
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("graft")` — a DataSource V2 reader over an encoded
  * block store (the `{blocks,manifest}` layout Checkpoint writes), so SQL
  * filters push into blocks natively instead of through the Decoder API.
  *
  * The scan plan is the one a 100 TB decode wants:
  *   - one InputPartition per encoder partition directory → blocks of a
  *     row group are CO-LOCATED, so reconstruction needs NO shuffle
  *     (Decoder.decode pays one groupByKey shuffle for the same work);
  *   - SupportsPushDownRequiredColumns → only requested columns decoded;
  *   - SupportsPushDownFilters: EqualTo on any column prunes whole blocks
  *     via BlockCodec.mayContain (dict binary-search / FoR range check)
  *     before any decompression, then late-materializes only matching rows.
  * Filters are also left in the plan as residuals, so Spark re-checks them
  * — pruning can only skip, never fabricate.
  */
class GraftDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft source requires a path"))
    GraftDataSource.schemaFor(path)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    new GraftTable(path, schema)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object GraftDataSource {

  /** `path` may be the Checkpoint outDir (containing `blocks/`) or the
    * blocks directory itself
    */
  def blocksDir(path: String): Path = {
    val conf = activeHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val nested = new Path(root, "blocks")
    if (fs.exists(nested)) nested else root
  }

  /** driver-side planning reads must see the SESSION's hadoop settings
    * (credentials, endpoints) — a bare `new Configuration()` there would be
    * inconsistent with planInputPartitions within the same scan. Executor
    * code keeps `new Configuration()` (no active session there).
    */
  private[datasource] def activeHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  /** Blocks dir the WRITE side must target — the same resolution the
    * readers use, so a store addressed by its blocks directory is extended
    * IN PLACE instead of silently nesting a second store under it (the
    * nested dir would win every later blocksDir() resolution and hide all
    * pre-existing rows). A fresh path gets the canonical <path>/blocks
    * layout. Driver-side only (resolution needs the session conf).
    */
  private[datasource] def blocksDirForWrite(path: String): Path = {
    val conf = activeHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val nested = new Path(root, "blocks")
    if (fs.exists(nested)) nested
    else if (fs.exists(root) && fs.listStatus(root).exists { st =>
      st.getPath.getName.startsWith("partId=") ||
        st.getPath.getName == graft.engine.StoreMeta.FormatFile
    }) root
    else nested
  }

  /** Store root (the Checkpoint outDir) for a resolved blocks dir — where
    * the manifest and the resumable encoder's completeness marker live.
    * Mirrors the reader-side manifest resolution: when the given path IS
    * the blocks dir, they sit beside it, not under it.
    */
  private[datasource] def storeRootFor(path: String, blocks: Path): Path = {
    val root = new Path(path)
    if (blocks.toString == root.toString && root.getParent != null) root.getParent
    else root
  }

  /** column names from the block store — METADATA-ONLY on the driver: one
    * partition dir lists every column (the encoder writes all columns per
    * partition), and the parquet read schema projects just `colName`, so no
    * `data` page is ever materialized regardless of block size. All columns
    * are string-typed, matching the encoder's binary-cast input contract.
    */
  def schemaFor(path: String): StructType = {
    val dir = blocksDir(path)
    // loud refusal for stores written under a different block layout — an
    // old WrapId.None block's flags byte would otherwise parse as a valid
    // membership-filter length and decode into wrong values
    graft.engine.StoreMeta.checkFormat(activeHadoopConf(), dir.toString)
    val fs = dir.getFileSystem(activeHadoopConf())
    val partDirs = fs.listStatus(dir).filter(_.getPath.getName.startsWith("partId="))
    require(partDirs.nonEmpty, s"no partId= directories under $dir")
    val cols = scala.collection.mutable.SortedSet.empty[String]
    val files = fs.listStatus(partDirs.head.getPath)
      .filter(_.getPath.getName.endsWith(".parquet"))
    val conf = new Configuration(activeHadoopConf())
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      "message g { optional binary colName (UTF8); }")
    files.foreach { f =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), f.getPath)
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          cols += g.getString("colName", 0)
          g = reader.read()
        }
      } finally reader.close()
    }
    StructType(cols.toSeq.map(StructField(_, StringType, nullable = true)))
  }

  /** Append-time column guard: a store's files must all carry the SAME
    * column set — the reader derives the schema from one partition
    * directory and assembles each block group by column name, so a file
    * with extra/missing columns would silently misalign rows or surface a
    * phantom schema. Called driver-side BEFORE any task encodes a byte.
    * No-op when the path holds no store yet (fresh write).
    */
  def checkAppendColumns(path: String, incoming: Array[String]): Unit = {
    val conf = activeHadoopConf()
    val dir = blocksDir(path)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return
    if (!fs.listStatus(dir).exists(_.getPath.getName.startsWith("partId="))) return
    val existing = schemaFor(path).fieldNames.toSet
    val in = incoming.toSet
    if (existing != in)
      throw new IllegalStateException(
        s"graft append column mismatch at $path: store has " +
          s"[${existing.toSeq.sorted.mkString(",")}] but the write carries " +
          s"[${in.toSeq.sorted.mkString(",")}] — appended files must have the " +
          "store's exact column set (use overwrite mode to replace the store)")
  }
}

class GraftTable(path: String, tableSchema: StructType) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, tableSchema)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(path, info)
}

class GraftScanBuilder(path: String, schema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = schema
  private var countStar = false
  private var aggSpecs: Seq[GraftAgg] = Nil
  private var limit: Int = -1
  // non-empty iff `limit` came from pushTopN: the sort-marker snapshot the
  // push validated, re-verified at scan time (see pushTopN)
  private var topNKeys: Seq[String] = Nil

  /** LIMIT n: each partition reader stops after emitting n matching rows —
    * on a huge store that means decoding one block group instead of the
    * whole partition. Partial push: Spark keeps the global limit.
    */
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY <prefix of the store's recorded sort order> LIMIT n: rows
    * already leave each partition in that order (see
    * GraftScan.outputOrdering's conditions — marker present, single file
    * per partition), so the first n rows per partition ARE its top-n.
    * Partial push: Spark still merges the per-partition heads globally.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    val keys = graft.engine.StoreMeta.readSortKeys(
      GraftDataSource.activeHadoopConf(), GraftDataSource.blocksDir(path).toString)
    if (keys.isEmpty) return false
    val asked: Seq[Option[String]] = orders.toSeq.map { o =>
      o.expression() match {
        case f: NamedReference if f.fieldNames().length == 1 &&
            o.direction() == SortDirection.ASCENDING &&
            o.nullOrdering() == NullOrdering.NULLS_FIRST =>
          Some(f.fieldNames().head)
        case _ => None
      }
    }
    if (asked.exists(_.isEmpty)) return false
    if (!asked.flatten.corresponds(keys.take(asked.length))(_ == _)) return false
    // same single-file condition the ordering report requires
    val dir = GraftDataSource.blocksDir(path)
    val fs = dir.getFileSystem(GraftDataSource.activeHadoopConf())
    val multiFile = fs.listStatus(dir)
      .filter(_.getPath.getName.startsWith("partId="))
      .exists(st => fs.listStatus(st.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > 1)
    if (multiFile) return false
    limit = n
    // snapshot the marker the push was validated against: the conditions
    // are RE-CHECKED at scan time against the same cached listing the
    // readers use (GraftScan.effectiveLimit) — a concurrent append between
    // this push and the scan clears the marker / adds a second file, and
    // an early stop would then return the head of interleaved runs, not
    // the top-n. Plain LIMIT (topNKeys empty) is sound on any file set.
    topNKeys = keys
    true
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def known(attr: String) = schema.fieldNames.contains(attr)
    pushed = filters.collect {
      case e @ EqualTo(a, v: String) if known(a) && v != null => e
      case e @ GreaterThan(a, v: String) if known(a) && v != null => e
      case e @ GreaterThanOrEqual(a, v: String) if known(a) && v != null => e
      case e @ LessThan(a, v: String) if known(a) && v != null => e
      case e @ LessThanOrEqual(a, v: String) if known(a) && v != null => e
      case e @ StringStartsWith(a, v) if known(a) && v != null => e
      case e @ In(a, vs) if known(a) && vs != null && vs.nonEmpty &&
        vs.forall(v => v != null && v.isInstanceOf[String]) => e
      case e @ IsNotNull(a) if known(a) => e
    }
    // everything stays residual: block pruning is an optimization, Spark
    // still re-evaluates the predicates on the decoded rows
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*) / MIN(col) / MAX(col) with no filters/grouping are answered
    * from block METADATA — each partition reader folds its blocks' rowCount
    * and min/max value prefixes and emits one row; Spark re-aggregates the
    * per-partition partials (partial pushdown). Prefixes are exact for
    * values under 24 chars; a 24-char prefix may be truncated, so only the
    * candidate blocks whose prefix ties the running extreme decode their
    * one column to resolve it — still no full-table decode.
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case n: NamedReference if n.fieldNames.length == 1 &&
          schema.fieldNames.contains(n.fieldNames.head) => Some(n.fieldNames.head)
        case _ => None
      }
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return false
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(GraftAgg("count", null))
      case m: Min => colOf(m.column).map(GraftAgg("min", _))
      case m: Max => colOf(m.column).map(GraftAgg("max", _))
      case _ => None
    }
    if (specs.exists(_.isEmpty) || specs.isEmpty) return false
    if (specs.length == 1 && specs.head.get.kind == "count") countStar = true
    else aggSpecs = specs.map(_.get)
    true
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  /** A user-supplied schema (supportsExternalMetadata) can name columns the
    * store has NOWHERE: the cursor's per-partition absent→null convention
    * (meant for a column missing from ONE partition) would silently serve
    * all-nulls — and eq/in predicates on the ghost column would prune every
    * block — so a typo'd column returns plausible-looking nothing instead
    * of an error. Validate once per planned scan against the store's real
    * column set; an empty store is fine (the scan yields no rows anyway).
    */
  private def validateColumns(): Unit = {
    val asked = (required.fieldNames ++ pushed.flatMap(_.references)).toSet
    if (asked.isEmpty) return
    val actual =
      try GraftDataSource.schemaFor(path).fieldNames.toSet
      catch { case _: IllegalArgumentException => return /* no partitions yet */ }
    val unknown = asked -- actual
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"column(s) ${unknown.toSeq.sorted.mkString(", ")} do not exist in " +
          s"the graft store at $path (store columns: " +
          s"${actual.toSeq.sorted.mkString(", ")}) — a user-supplied schema " +
          "must name the store's columns")
  }

  override def build(): Scan = {
    validateColumns()
    if (countStar) GraftCountStarScan(path)
    else if (aggSpecs.nonEmpty) GraftAggScan(path, aggSpecs)
    else {
      val preds = pushed.collect {
        case EqualTo(a, v: String) => GraftPred("eq", a, v)
        case GreaterThan(a, v: String) => GraftPred("lower", a, v)
        case GreaterThanOrEqual(a, v: String) => GraftPred("lower", a, v)
        case LessThan(a, v: String) => GraftPred("upper", a, v)
        case LessThanOrEqual(a, v: String) => GraftPred("upper", a, v)
        case StringStartsWith(a, v) => GraftPred("prefix", a, v)
        case In(a, vs) => GraftPred("in", a, null, vs.toSeq.map(_.asInstanceOf[String]))
        case IsNotNull(a) => GraftPred("notnull", a, null)
      }
      GraftScan(path, required, preds, limit, topNKeys)
    }
  }
}

/** one pushed predicate: kind ∈ eq | lower (v is a lower bound) |
  * upper (v is an upper bound) | prefix (startsWith) | in (values list) |
  * notnull
  */
final case class GraftPred(kind: String, col: String, value: String,
    values: Seq[String] = Nil)

/** Conservative block-skip rules over the ≤24-char min/max value PREFIXES
  * stored on every block. A prefix P of max satisfies P ≤ max; truncation
  * means only first-|P|-chars conclusions are sound:
  *   - lower bound v: skip iff utf8(v take |Pmax|) > utf8(Pmax) — then the
  *     first |Pmax| chars of v already exceed max's, so v > max;
  *   - upper bound v: skip iff utf8(Pmin) > utf8(v) — then min ≥ Pmin > v;
  *   - startsWith p: skip iff (lower rule with v = p) OR
  *     (Pmin > p AND !Pmin.startsWith(p)) — every p-prefixed string < min.
  * All rules can only SKIP blocks with no matches, never drop matches —
  * and Spark re-applies the predicates as residuals regardless.
  */
object GraftPruning {
  private def u8(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(u8(a), u8(b))

  /** can any value ≥ v exist in a block whose max has prefix pMax? */
  def lowerMayMatch(pMax: String, v: String): Boolean = {
    if (pMax == null) return true // all-null or unknown → cannot skip
    val vk = if (v.length > pMax.length) v.substring(0, pMax.length) else v
    cmp(vk, pMax) <= 0
  }

  /** can any value ≤ v exist in a block whose min has prefix pMin? */
  def upperMayMatch(pMin: String, v: String): Boolean =
    pMin == null || cmp(pMin, v) <= 0

  def prefixMayMatch(pMin: String, pMax: String, p: String): Boolean = {
    if (!lowerMayMatch(pMax, p)) return false
    if (pMin == null) return true
    !(cmp(pMin, p) > 0 && !pMin.startsWith(p))
  }

  /** can v itself exist in [min, max]? (eq / in-list element test) */
  def eqMayMatch(pMin: String, pMax: String, v: String): Boolean =
    upperMayMatch(pMin, v) && lowerMayMatch(pMax, v)

  /** block-level test for one predicate given the block's prefixes */
  def blockMayMatch(pred: GraftPred, pMin: String, pMax: String): Boolean =
    pred.kind match {
      case "lower" => lowerMayMatch(pMax, pred.value)
      case "upper" => upperMayMatch(pMin, pred.value)
      case "prefix" => prefixMayMatch(pMin, pMax, pred.value)
      case "eq" => eqMayMatch(pMin, pMax, pred.value)
      case "in" => pred.values.exists(eqMayMatch(pMin, pMax, _))
      // a block whose prefixes are both null holds only nulls — IsNotNull
      // can skip it outright (the only sound direction without null counts)
      case "notnull" => pMin != null || pMax != null
      case _ => true
    }
}

/** metadata-only COUNT(*): one long per partition from block rowCounts */
final case class GraftCountStarScan(path: String) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count", org.apache.spark.sql.types.LongType)))
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCountStarScan path=$path (metadata-only, no decode)"

  override def planInputPartitions(): Array[InputPartition] =
    GraftScan(path, readSchema(), Seq.empty).planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val part = p.asInstanceOf[GraftInputPartition]
          private var done = false
          private var count = 0L
          override def next(): Boolean = {
            if (done) return false
            val conf = new Configuration()
            // metadata-only: project the two tiny columns — the heavy
            // `data` pages are never read, let alone decompressed
            conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
              "message g { optional binary colName (UTF8); required int32 rowCount; }")
            var firstCol: String = null
            part.files.foreach { f =>
              val reader = ParquetReader
                .builder(new GroupReadSupport(), new Path(f))
                .withConf(conf)
                .build()
              try {
                var g = reader.read()
                while (g != null) {
                  val c = g.getString("colName", 0)
                  if (firstCol == null) firstCol = c
                  if (c == firstCol) count += g.getInteger("rowCount", 0)
                  g = reader.read()
                }
              } finally reader.close()
            }
            done = true
            true
          }
          override def get(): InternalRow = InternalRow(count)
          override def close(): Unit = ()
        }
    }
}

/** one pushed aggregate: kind ∈ count (star) | min | max (col) */
final case class GraftAgg(kind: String, col: String)

/** Metadata-only MIN/MAX(+COUNT) pushdown. Per partition, pass 1 reads only
  * the tiny block-metadata columns (no `data` pages): rowCounts sum into the
  * count partial, and min/max value prefixes fold into per-column extremes.
  * A prefix under 23 chars is the exact block extreme (prefix24 truncates at
  * 23 or 24 chars); a ≥23-char prefix MAY be truncated, so the blocks tying
  * the partition's extreme prefix — normally zero or a handful — get a
  * targeted pass-2 decode of that one column to resolve the exact value.
  * Skip rules are the sound direction only: a truncated min-prefix P bounds
  * its block's min from BELOW (every value extending P is ≥ P in UTF-8 byte
  * order), so blocks with P > the exact running min can never win and are
  * not decoded; symmetrically for max. Spark re-aggregates the one partial
  * row per partition (supportCompletePushDown = false).
  */
final case class GraftAggScan(path: String, specs: Seq[GraftAgg])
    extends Scan with Batch {
  import org.apache.spark.sql.types.LongType

  override def readSchema(): StructType = StructType(specs.zipWithIndex.map {
    case (GraftAgg("count", _), i) => StructField(s"agg_$i", LongType, nullable = false)
    case (_, i) => StructField(s"agg_$i", StringType, nullable = true)
  })
  override def toBatch: Batch = this
  override def description(): String = {
    val shown = specs.map(s => s"${s.kind}(${Option(s.col).getOrElse("*")})")
    s"GraftAggScan path=$path, PushedAggregates: [${shown.mkString(", ")}] " +
      "(metadata-only + tie-break block decode)"
  }

  override def planInputPartitions(): Array[InputPartition] =
    GraftScan(path, readSchema(), Seq.empty).planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new GraftAggReader(p.asInstanceOf[GraftInputPartition], specs)
    }
}

final class GraftAggReader(partition: GraftInputPartition, specs: Seq[GraftAgg])
    extends PartitionReader[InternalRow] {

  private var done = false
  private var row: InternalRow = _

  private def cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes("UTF-8"), b.getBytes("UTF-8"))
  // prefix24 cuts at a char boundary at 23 or 24 chars, so anything shorter
  // is the full block extreme and anything ≥23 chars may be truncated
  private def maybeTruncated(p: String): Boolean = p.length >= 23

  /** Running fold of one column's extreme: `exact` over exact prefixes,
    * plus ALL possibly-truncated prefixes with their blocks — candidate
    * selection happens at resolve time because domination depends on the
    * final pivot.
    *
    * Candidate rule (min; max is symmetric): let P* be the minimal
    * truncated prefix. A truncated block with prefix Q is decoded iff Q
    * starts with P* (or equals it). Soundness: if Q > P* and Q does NOT
    * start with P*, their first differing char i < |Q| has Q[i] > P*[i],
    * so EVERY value prefixed by Q exceeds every value prefixed by P* —
    * the block cannot hold the minimum (P*'s own block is decoded). If Q
    * starts with P* (prefix24 cut one char earlier, e.g. before a
    * surrogate), Q-values live inside P*'s range and may undercut P*'s
    * block's actual min, so Q must be decoded too. A Q that is a proper
    * prefix OF P* would compare < P*, contradicting P* minimal.
    */
  private final class Ext(min: Boolean) {
    var exact: String = null
    var trunc: List[(String, String, Int)] = Nil // (prefix, file, blockIdx)
    private def better(a: String, b: String): Boolean =
      if (min) cmp(a, b) < 0 else cmp(a, b) > 0
    def update(p: String, file: String, blockIdx: Int): Unit = {
      if (p == null) return // all-null block: min/max ignore nulls
      if (!maybeTruncated(p)) {
        if (exact == null || better(p, exact)) exact = p
      } else trunc ::= ((p, file, blockIdx))
    }
    def resolve(col: String): String = {
      if (trunc.isEmpty) return exact
      val pivot = trunc.map(_._1).reduce((a, b) => if (better(a, b)) a else b)
      // can a value in the pivot's family beat `exact` at all?
      val mayBeat = exact == null ||
        (if (min) cmp(pivot, exact) <= 0
         else cmp(pivot, exact) >= 0 || exact.startsWith(pivot))
      if (!mayBeat) return exact
      var r = exact
      // resolve candidates grouped BY FILE — one footer open + one filtered
      // pass per file, however many blocks tie on the pivot prefix
      trunc.filter { case (p, _, _) =>
        // min: p extends pivot; max: additionally pivot may extend p
        p.startsWith(pivot) || (!min && pivot.startsWith(p))
      }.groupBy(_._2).foreach { case (file, cands) =>
        val v = GraftAggReader.blockExtremes(
          file, partition.partId, col, cands.map(_._3), min)
        if (v != null && (r == null || better(v, r))) r = v
      }
      r
    }
  }

  override def next(): Boolean = {
    if (done) return false
    done = true
    val minExt = specs.collect { case GraftAgg("min", c) => c }.distinct
      .map(c => c -> new Ext(min = true)).toMap
    val maxExt = specs.collect { case GraftAgg("max", c) => c }.distinct
      .map(c => c -> new Ext(min = false)).toMap
    val needCount = specs.exists(_.kind == "count")

    // pass 1: block metadata only — `data` pages are never materialized
    val conf = new Configuration()
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      """message g {
        |  optional binary colName (UTF8);
        |  required int32 blockIdx;
        |  required int32 rowCount;
        |  optional binary minPrefix (UTF8);
        |  optional binary maxPrefix (UTF8);
        |}""".stripMargin)
    var firstCol: String = null
    var count = 0L
    partition.files.foreach { f =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), new Path(f))
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          val c = g.getString("colName", 0)
          if (firstCol == null) firstCol = c
          if (needCount && c == firstCol) count += g.getInteger("rowCount", 0)
          if (minExt.contains(c) || maxExt.contains(c)) {
            val idx = g.getInteger("blockIdx", 0)
            def strOrNull(field: String): String =
              if (g.getFieldRepetitionCount(field) == 0) null
              else g.getString(field, 0)
            minExt.get(c).foreach(_.update(strOrNull("minPrefix"), f, idx))
            maxExt.get(c).foreach(_.update(strOrNull("maxPrefix"), f, idx))
          }
          g = reader.read()
        }
      } finally reader.close()
    }

    // pass 2 (usually empty): decode only prefix-tied candidate blocks
    val minRes = minExt.map { case (c, e) => c -> e.resolve(c) }
    val maxRes = maxExt.map { case (c, e) => c -> e.resolve(c) }
    row = InternalRow.fromSeq(specs.map {
      case GraftAgg("count", _) => count
      case GraftAgg("min", c) =>
        minRes(c) match { case null => null; case v => UTF8String.fromString(v) }
      case GraftAgg(_, c) =>
        maxRes(c) match { case null => null; case v => UTF8String.fromString(v) }
    })
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

object GraftAggReader {
  /** exact min/max across a SET of candidate blocks of one file's column:
    * one footer open + one filtered pass resolves every candidate the file
    * holds — a shared ≥23-char prefix can make EVERY block a candidate,
    * and reopening the file per block would degrade the metadata-only
    * aggregate to worse-than-full-scan I/O
    */
  private[datasource] def blockExtremes(
      file: String, partId: Int, col: String, blockIdxs: Seq[Int],
      min: Boolean): String = {
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    val colPred = FilterApi.eq(FilterApi.binaryColumn("colName"),
      org.apache.parquet.io.api.Binary.fromString(col))
    val idxPred = blockIdxs
      .map(i => FilterApi.eq(FilterApi.intColumn("blockIdx"),
        java.lang.Integer.valueOf(i)): FilterPredicate)
      .reduce(FilterApi.or(_, _))
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new Path(file))
      .withConf(new Configuration())
      .withFilter(org.apache.parquet.filter2.compat.FilterCompat.get(
        FilterApi.and(colPred, idxPred)))
      .build()
    var ext: Array[Byte] = null
    try {
      var g = reader.read()
      while (g != null) {
        val values = BlockCodec.decodeBlock(graft.engine.BlockParquet.fromGroup(g, partId, col))
        var i = 0
        while (i < values.length) {
          val v = values(i)
          if (v != null && (ext == null ||
              (if (min) java.util.Arrays.compareUnsigned(v, ext) < 0
               else java.util.Arrays.compareUnsigned(v, ext) > 0))) ext = v
          i += 1
        }
        g = reader.read()
      }
    } finally reader.close()
    if (ext == null) null
    else new String(ext, java.nio.charset.StandardCharsets.UTF_8)
  }
}

final case class GraftScan(path: String, required: StructType, preds: Seq[GraftPred],
    limit: Int = -1, topNKeys: Seq[String] = Nil)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics with SupportsReportOrdering {

  /** A top-N early stop is only sound over the file set the readers will
    * ACTUALLY read: re-validate the push-time conditions against the same
    * cached listing (sort marker unchanged, still one file per partition).
    * A concurrent append between pushTopN and this scan retracts the
    * marker / adds files, and stopping early would return the head of two
    * interleaved sorted runs — drop the limit instead (partial push means
    * Spark still sorts and limits what it receives, so reading everything
    * is always correct, just not early-stopped). A plain pushed LIMIT
    * (topNKeys empty) is order-free and sound on any subset.
    */
  @transient private lazy val effectiveLimit: Int =
    if (limit < 0 || topNKeys.isEmpty) limit
    else {
      val now = graft.engine.StoreMeta.readSortKeys(
        GraftDataSource.activeHadoopConf(), GraftDataSource.blocksDir(path).toString)
      val singleFile = cachedPartitions.forall(
        _.asInstanceOf[GraftInputPartition].files.length <= 1)
      if (now == topNKeys && singleFile) limit else -1
    }

  /** Per-partition output ordering, reported ONLY when it provably holds:
    * the store carries a sorted-by marker (written by the sorted one-shot
    * writers, cleared by appends and compaction — see StoreMeta) AND every
    * partition is a single file (interleaved append files break order).
    * Only the marker prefix that survives column pruning is claimed.
    * Pruning/filtering skip rows but never reorder them, so the claim
    * holds for every pushed-predicate combination. Spark folds this into
    * the physical plan and drops redundant SortExec nodes (merge-join
    * local sorts, windows over the store's own keys).
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val keys = graft.engine.StoreMeta.readSortKeys(
      GraftDataSource.activeHadoopConf(), GraftDataSource.blocksDir(path).toString)
    if (keys.isEmpty) return Array.empty
    val present = keys.takeWhile(required.fieldNames.contains)
    if (present.isEmpty) return Array.empty
    val multiFile = planInputPartitions().exists(
      _.asInstanceOf[GraftInputPartition].files.length > 1)
    if (multiFile) return Array.empty
    present.map(k => org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.identity(k),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  /** Size/row statistics from block METADATA only (rowCount + rawBytes
    * columns of the block parquet files — no `data` page is read). Without
    * this, Spark assumes a DSv2 table is arbitrarily large
    * (spark.sql.defaultSizeInBytes) and will never broadcast a small graft
    * store on the dim side of a join; with it, size-based join planning
    * works exactly as over native parquet. sizeInBytes is the DECODED size
    * of the projected columns (planning reasons about in-memory rows, not
    * compressed blocks), pro-rated when columns are pruned.
    */
  override def estimateStatistics(): Statistics = {
    val wanted = required.fieldNames.toSet
    // fast path: Checkpoint stores carry a manifest that is
    // O(partitions x columns) — one small parquet read instead of touching
    // every partition's block metadata
    val (rows, bytesAll, bytesRequired) =
      statsFromManifest(wanted).getOrElse(statsFromBlockMetadata(wanted))
    val size = if (wanted.isEmpty) bytesAll else bytesRequired
    val r = rows
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(size, 1L))
      override def numRows(): java.util.OptionalLong =
        if (r < 0) java.util.OptionalLong.empty() else java.util.OptionalLong.of(r)
    }
  }

  private def statsFromManifest(wanted: Set[String]): Option[(Long, Long, Long)] = {
    val conf = new Configuration(GraftDataSource.activeHadoopConf())
    // `path` may be the Checkpoint outDir (manifest beside blocks/) OR the
    // blocks directory itself (blocksDir supports both) — in the latter
    // form the manifest sits beside the GIVEN dir, not under it
    val root = new Path(path)
    val manifest =
      if (GraftDataSource.blocksDir(path).toString == root.toString &&
          root.getParent != null)
        new Path(root.getParent, "manifest")
      else new Path(root, "manifest")
    val fs = manifest.getFileSystem(conf)
    if (!fs.exists(manifest)) return None
    val files = fs.listStatus(manifest).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    if (files.isEmpty) return None
    // the manifest is Spark-written from an aggregated DataFrame, so its
    // numeric fields are OPTIONAL in the parquet schema
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      """message g {
        |  optional binary colName (UTF8);
        |  optional int64 rowCount;
        |  optional int64 rawBytes;
        |}""".stripMargin)
    var rows = 0L
    var bytesAll = 0L
    var bytesRequired = 0L
    var firstCol: String = null
    files.foreach { f =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), f)
        .withConf(conf)
        .build()
      try {
        def longOr0(g: org.apache.parquet.example.data.Group, field: String): Long =
          if (g.getFieldRepetitionCount(field) == 0) 0L else g.getLong(field, 0)
        var g = reader.read()
        while (g != null) {
          val c = g.getString("colName", 0)
          if (firstCol == null) firstCol = c
          if (c == firstCol) rows += longOr0(g, "rowCount")
          val raw = longOr0(g, "rawBytes")
          bytesAll += raw
          if (wanted.contains(c)) bytesRequired += raw
          g = reader.read()
        }
      } finally reader.close()
    }
    Some((rows, bytesAll, bytesRequired))
  }

  private def statsFromBlockMetadata(wanted: Set[String]): (Long, Long, Long) = {
    val parts = planInputPartitions()
    val nFiles = parts.iterator
      .map(_.asInstanceOf[GraftInputPartition].files.length).sum
    if (nFiles > GraftScan.StatsFileCap) {
      // manifest-less AND heavily fragmented (streaming epochs before a
      // compaction): opening every file's footer on the driver would make
      // planning O(store). Fall back to file LENGTHS from the listing we
      // already have — compressed size under-estimates decoded size, which
      // at this fragmentation (>> broadcast threshold) errs on the side of
      // NOT broadcasting; rows stay unknown.
      val conf = GraftDataSource.activeHadoopConf()
      val bytes = parts.iterator
        .flatMap(_.asInstanceOf[GraftInputPartition].files.iterator)
        .map { f =>
          val p = new Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum
      return (-1L, bytes, bytes)
    }
    val conf = new Configuration(GraftDataSource.activeHadoopConf())
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      """message g {
        |  optional binary colName (UTF8);
        |  required int32 rowCount;
        |  required int64 rawBytes;
        |}""".stripMargin)
    var rows = 0L
    var bytesAll = 0L
    var bytesRequired = 0L
    planInputPartitions().foreach { p =>
      var firstCol: String = null
      p.asInstanceOf[GraftInputPartition].files.foreach { f =>
        val reader = ParquetReader
          .builder(new GroupReadSupport(), new Path(f))
          .withConf(conf)
          .build()
        try {
          var g = reader.read()
          while (g != null) {
            val c = g.getString("colName", 0)
            if (firstCol == null) firstCol = c
            if (c == firstCol) rows += g.getInteger("rowCount", 0)
            val raw = g.getLong("rawBytes", 0)
            bytesAll += raw
            if (wanted.contains(c)) bytesRequired += raw
            g = reader.read()
          }
        } finally reader.close()
      }
    }
    (rows, bytesAll, bytesRequired)
  }

  /** Runtime (join-derived) filters — the DSv2 analog of dynamic partition
    * pruning: when this store is the fact side of a broadcast join, Spark
    * collects the dim side's join-key values at execution time and calls
    * `filter()` with an In/EqualTo before re-planning the scan. The values
    * merge into the same per-block pruning pipeline as statically pushed
    * predicates (min/max prefixes, dictionary search, membership filters),
    * so blocks holding none of the join keys are skipped without
    * decompression. Conservative like all pruning here: unsupported filter
    * shapes are ignored (scan stays complete), and Spark re-checks the join
    * itself.
    */
  @volatile private var runtimePreds: Seq[GraftPred] = Nil
  private def allPreds: Seq[GraftPred] = preds ++ runtimePreds

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit =
    runtimePreds = filters.toSeq.collect {
      case EqualTo(a, v: String) if v != null => GraftPred("eq", a, v)
      // cap: probing every block against an unbounded join-key set would
      // cost more than it prunes; past the cap the scan just stays complete
      case In(a, vs) if vs != null && vs.nonEmpty &&
          vs.length <= GraftScan.RuntimeInCap &&
          vs.forall(v => v != null && v.isInstanceOf[String]) =>
        GraftPred("in", a, null, vs.toSeq.map(_.asInstanceOf[String]))
      case IsNotNull(a) => GraftPred("notnull", a, null)
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val shown = preds.map {
      case GraftPred("eq", c, v, _) => s"$c = $v"
      case GraftPred("lower", c, v, _) => s"$c >= $v"
      case GraftPred("upper", c, v, _) => s"$c <= $v"
      case GraftPred("prefix", c, v, _) => s"$c startswith $v"
      case GraftPred("in", c, _, vs) => s"$c in (${vs.mkString(",")})"
      case GraftPred("notnull", c, _, _) => s"$c is not null"
      case GraftPred(k, c, v, _) => s"$c $k $v"
    }
    s"GraftScan path=$path, ReadSchema: ${required.catalogString}, " +
      s"PushedFilters: [${shown.mkString(", ")}]" +
      (if (limit >= 0) s", PushedLimit: $limit" else "")
  }

  // one directory sweep per scan instance: planning consults the listing
  // several times (input partitions, ordering report, statistics) and at
  // scale each listStatus round-trip on an object store costs real time
  @transient private lazy val cachedPartitions: Array[InputPartition] = {
    val dir = GraftDataSource.blocksDir(path)
    // the format check must sit on the SCAN path, not only in schemaFor:
    // a user-supplied schema (supportsExternalMetadata) skips inference
    // entirely, and an unchecked pre-v2 store would decode into wrong
    // values instead of refusing
    graft.engine.StoreMeta.checkFormat(
      GraftDataSource.activeHadoopConf(), dir.toString)
    val fs = dir.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    fs.listStatus(dir)
      .filter(_.getPath.getName.startsWith("partId="))
      .sortBy(_.getPath.getName)
      .map { st =>
        val listed = fs.listStatus(st.getPath)
        // an interrupted compaction may have published its merged file but
        // not yet swept the inputs — counting both would duplicate rows, so
        // fail loudly instead (GraftCompact.recover rolls it forward/back)
        if (listed.exists(_.getPath.getName == GraftCompact.JournalName))
          throw new IllegalStateException(
            s"incomplete compaction in ${st.getPath} (found " +
              s"${GraftCompact.JournalName}) — run GraftCompact.recover first")
        val files = listed
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString)
        GraftInputPartition(
          st.getPath.getName.stripPrefix("partId=").toInt, files)
      }
      .toArray
  }

  override def planInputPartitions(): Array[InputPartition] = cachedPartitions

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(required.fieldNames, allPreds, effectiveLimit)

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(path, required, preds)
}

/** `spark.readStream.format("graft")` — the block store as an append-only
  * streaming source. Committed files are immutable (the writer publishes
  * whole files from staging, Checkpoint renames its manifest last), so a
  * micro-batch is exactly "files present at end-offset minus files at
  * start-offset", read through the same pruned/late-materialized reader as
  * the batch path. Offsets carry the per-partition file sets explicitly —
  * append files have random write-ids, so a count-prefix offset would
  * silently miss files that sort before already-seen ones. The shape per
  * offset is O(files) — same as Spark's own file source pre-compaction —
  * and `GraftCompact` is the bound: the maintenance contract is
  * stop-stream → compact → restart with a FRESH checkpoint (one file per
  * partition afterwards, so the offset shrinks to O(partitions)). A stream
  * resuming across a compaction is REFUSED loudly in planInputPartitions:
  * the merged file would replay every already-consumed row as new
  * (exercised end-to-end in GraftCompactSpec's 120-epoch test).
  */
final class GraftMicroBatchStream(
    path: String, required: StructType, preds: Seq[GraftPred])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // Trigger.AvailableNow: pin the file set once at query start; the run
  // drains exactly those files and stops, even if appends keep arriving
  @volatile private var pinned: Map[Int, Seq[String]] = null
  override def prepareForTriggerAvailableNow(): Unit = pinned = currentFiles()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    GraftStreamOffset(if (pinned != null) pinned else currentFiles())
  override def reportLatestOffset(): Offset = GraftStreamOffset(currentFiles())

  private def currentFiles(): Map[Int, Seq[String]] = {
    val dir = GraftDataSource.blocksDir(path)
    // same reader-side format gate as the batch scan (schema may be
    // user-supplied, so inference's check cannot be relied on)
    graft.engine.StoreMeta.checkFormat(
      GraftDataSource.activeHadoopConf(), dir.toString)
    val fs = dir.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    fs.listStatus(dir)
      .filter(_.getPath.getName.startsWith("partId="))
      .map { st =>
        val id = st.getPath.getName.stripPrefix("partId=").toInt
        val listed = fs.listStatus(st.getPath)
        if (listed.exists(_.getPath.getName == GraftCompact.JournalName))
          throw new IllegalStateException(
            s"incomplete compaction in ${st.getPath} — run GraftCompact.recover first")
        id -> listed
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString).sorted.toSeq
      }.toMap
  }

  override def latestOffset(): Offset = GraftStreamOffset(currentFiles())
  override def initialOffset(): Offset = GraftStreamOffset(Map.empty)
  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].files
    val e = end.asInstanceOf[GraftStreamOffset].files
    // committed files VANISHING from the latest offset means the store was
    // overwritten or rewritten under this stream's checkpoint (a batch
    // mode("overwrite"), a manual rewrite) — treating the new files as
    // fresh would silently re-emit every already-consumed row. Same loud
    // refusal as the compaction case below, which this check also catches
    // when the merged inputs disappear.
    s.foreach { case (partId, sf) =>
      val now = e.getOrElse(partId, Nil).toSet
      val gone = sf.filterNot(now)
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"store $path partId=$partId: ${gone.length} file(s) in this " +
            s"stream's committed offset no longer exist (e.g. ${new Path(gone.head).getName}) — " +
            "the store was overwritten, rewritten, or compacted under the " +
            "checkpoint. Restart the query with a fresh checkpoint.")
    }
    e.toSeq.sortBy(_._1).flatMap { case (partId, files) =>
      val seen = s.getOrElse(partId, Nil).toSet
      val fresh = files.filterNot(seen)
      // a compacted file appearing as "fresh" against a non-empty committed
      // offset means GraftCompact rewrote files this stream already
      // consumed — reading it would silently re-emit every old row. Refuse
      // loudly: the maintenance contract is stop-stream → compact → restart
      // with a FRESH checkpoint (a fresh stream reads the compacted store
      // fine, and its offsets are bounded at one file per partition).
      if (seen.nonEmpty && fresh.exists(f =>
          new Path(f).getName.startsWith("part-compact-")))
        throw new IllegalStateException(
          s"store $path partId=$partId was compacted across this stream's " +
            "committed offset — resuming would re-read merged rows as new. " +
            "Restart the query with a fresh checkpoint after compaction.")
      if (fresh.isEmpty) None
      else Some(GraftInputPartition(partId, fresh.toArray))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(required.fieldNames, preds)
}

final case class GraftStreamOffset(files: Map[Int, Seq[String]])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    files.toSeq.sortBy(_._1).foreach { case (id, fs) =>
      val arr = root.putArray(id.toString)
      fs.foreach(arr.add)
    }
    m.writeValueAsString(root)
  }
}

object GraftStreamOffset {
  def fromJson(s: String): GraftStreamOffset = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    val out = scala.collection.mutable.Map.empty[Int, Seq[String]]
    val names = root.fieldNames()
    while (names.hasNext) {
      val k = names.next()
      val arr = root.get(k)
      out(k.toInt) = (0 until arr.size()).map(i => arr.get(i).asText())
    }
    GraftStreamOffset(out.toMap)
  }
}

object GraftScan {
  /** largest runtime In-set worth probing per block */
  val RuntimeInCap = 10000

  /** above this many files, statistics come from file lengths only —
    * opening every footer on the driver would make planning O(store)
    */
  val StatsFileCap = 64
}

final case class GraftInputPartition(partId: Int, files: Array[String])
    extends InputPartition

final case class GraftReaderFactory(requiredCols: Array[String], preds: Seq[GraftPred],
    limit: Int = -1)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftRowReader(
      partition.asInstanceOf[GraftInputPartition], requiredCols, preds, limit)

  // Vectorized path: each surviving block group becomes ONE ColumnarBatch
  // (block size == batch size), so downstream whole-stage codegen consumes
  // column vectors directly instead of allocating an InternalRow per row.
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftColumnarReader(
      partition.asInstanceOf[GraftInputPartition], requiredCols, preds, limit)
}

/** Shared scan cursor: reads one encoder partition as a STREAM of block
  * groups. Block rows of each file are grouped by consecutive blockIdx runs
  * (both graft writers emit a partition's blocks column-interleaved in
  * increasing blockIdx order, so one run == one row group), each group is
  * pruned via min/max prefixes + mayContain on the filter columns, and only
  * surviving groups decode the needed columns. Memory is bounded by ONE
  * block group (plus the parquet reader's own row-group buffer) — never the
  * whole partition, which at 100 TB can be arbitrarily many blocks.
  *
  * Groups are keyed per FILE: a partition directory may hold several files
  * (append-mode writes, resumed jobs) and blockIdx is only unique within
  * one file. A non-monotonic blockIdx inside a file would mean the store
  * was not written by a graft writer; the cursor fails loudly rather than
  * risk a silently split group (missing column → null).
  */
private[datasource] final class GraftGroupCursor(
    partition: GraftInputPartition,
    requiredCols: Array[String],
    preds: Seq[GraftPred]) {

  private val eq: Map[String, String] =
    preds.collect { case GraftPred("eq", c, v, _) => c -> v }.toMap
  // probe values held as ARRAYS: the block-level mayContainAny probe runs
  // once per block group, and re-materializing a capped 10k-value Seq into
  // a fresh array per group is pure GC pressure on the pruning hot path
  private val inPreds: Seq[(String, Array[Array[Byte]])] =
    preds.collect { case GraftPred("in", c, _, vs) =>
      c -> vs.map(_.getBytes("UTF-8")).toArray }

  private val neededCols: Set[String] =
    requiredCols.toSet ++ preds.map(_.col)

  // count(*)-style scans prune EVERY column: row multiplicity still must
  // be produced, so fall back to reading one arbitrary column's blocks
  // (their rowCount metadata is enough — no decode happens)
  private var countCol: String = null

  // record-level parquet filter on colName: rows of un-needed columns
  // are never assembled (their `data` bytes are not copied out)
  private val colFilter: Option[org.apache.parquet.filter2.compat.FilterCompat.Filter] =
    if (neededCols.isEmpty) None
    else Some(org.apache.parquet.filter2.compat.FilterCompat.get(
      neededCols.toSeq.sorted
        .map(c => org.apache.parquet.filter2.predicate.FilterApi.eq(
          org.apache.parquet.filter2.predicate.FilterApi.binaryColumn("colName"),
          org.apache.parquet.io.api.Binary.fromString(c))
          : org.apache.parquet.filter2.predicate.FilterPredicate)
        .reduce(org.apache.parquet.filter2.predicate.FilterApi.or(_, _))))

  private val fileIt: Iterator[String] = partition.files.iterator
  private var reader: ParquetReader[org.apache.parquet.example.data.Group] = null
  private var lookahead: EncodedBlock = null // first block of the NEXT group
  private var maxIdxSeen: Int = -1

  /** next needed block row from the current file; null at file end */
  private def readBlockRow(): EncodedBlock = {
    var g = reader.read()
    while (g != null) {
      val colName = g.getString("colName", 0)
      if (neededCols.isEmpty && countCol == null) countCol = colName
      if (neededCols.contains(colName) ||
          (neededCols.isEmpty && colName == countCol))
        return (if (neededCols.isEmpty)
          graft.engine.BlockParquet.metaFromGroup(g, partition.partId, colName)
        else graft.engine.BlockParquet.fromGroup(g, partition.partId, colName))
      g = reader.read()
    }
    null
  }

  /** next complete block group across all files, or null when exhausted */
  private def nextGroup(): Map[String, EncodedBlock] = {
    while (true) {
      if (reader == null) {
        if (!fileIt.hasNext) return null
        val conf = new Configuration()
        // count-shaped fallback (every column pruned, no predicates):
        // rowCount metadata is all that's needed — projecting out `data`
        // keeps the read O(metadata) instead of copying every block's
        // compressed payload just to count rows
        if (neededCols.isEmpty)
          conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
            "message g { optional binary colName (UTF8); " +
              "required int32 blockIdx; required int32 rowCount; }")
        val builder0 = ParquetReader
          .builder(new GroupReadSupport(), new Path(fileIt.next()))
          .withConf(conf)
        reader = colFilter.fold(builder0)(builder0.withFilter).build()
        maxIdxSeen = -1
        lookahead = readBlockRow()
      }
      if (lookahead == null) {
        reader.close(); reader = null // next file
      } else {
        val idx = lookahead.blockIdx
        if (idx <= maxIdxSeen)
          throw new IllegalStateException(
            s"block rows out of order in graft store (blockIdx $idx after " +
              s"$maxIdxSeen) — file not written by a graft writer")
        maxIdxSeen = idx
        val m = scala.collection.mutable.HashMap.empty[String, EncodedBlock]
        while (lookahead != null && lookahead.blockIdx == idx) {
          m(lookahead.colName) = lookahead
          lookahead = readBlockRow()
        }
        return m.toMap
      }
    }
    null // unreachable
  }

  private val eqBytes: Map[String, Array[Byte]] =
    eq.map { case (k, v) => k -> v.getBytes("UTF-8") }
  // lazily built hashed In-sets for the row-level pass (one per column)
  private val inSets =
    scala.collection.mutable.HashMap.empty[String, java.util.HashSet[java.nio.ByteBuffer]]

  /** Decoded values of the required columns for the next surviving block
    * group: (matching row ids, per-required-col value arrays — a null slot
    * when that column is absent from this partition, i.e. all-null).
    * Returns null when the partition is exhausted.
    */
  def nextSurviving(): (Array[Int], Array[Array[Array[Byte]]]) = {
    while (true) {
      val cols = nextGroup()
      if (cols == null) return null
      // 1a. metadata pruning on the block's min/max value prefixes — every
      //     pushed predicate kind, no decompression at all
      val metaPruned = preds.exists { p =>
        cols.get(p.col).exists(b =>
          !GraftPruning.blockMayMatch(p, b.minPrefix, b.maxPrefix))
      }
      // 1b. equality/in-list pruning (cheap: membership filter probe, then
      //     dict binary-search / FoR range meta — batched, so a large
      //     In-set parses the block header and dictionary ONCE); a column
      //     absent from the partition is all-null → prune
      val pruned = metaPruned || eqBytes.exists { case (k, v) =>
        cols.get(k).forall(b => !BlockCodec.mayContain(b, v))
      } || inPreds.exists { case (k, vs) =>
        cols.get(k).forall(b => !BlockCodec.mayContainAny(b, vs))
      }
      if (!pruned) {
        // 2. decode filter columns first, intersect matching row ids
        val decoded = scala.collection.mutable.HashMap.empty[String, Array[Array[Byte]]]
        def col(name: String): Array[Array[Byte]] =
          decoded.getOrElseUpdate(name, BlockCodec.decodeBlock(cols(name)))
        val n = cols.valuesIterator.next().rowCount
        var matching: Array[Int] = (0 until n).toArray
        if (eqBytes.nonEmpty && eqBytes.keysIterator.forall(cols.contains)) {
          eqBytes.foreach { case (k, v) =>
            val kv = col(k)
            matching = matching.filter(i =>
              kv(i) != null && java.util.Arrays.equals(kv(i), v))
          }
        } // else: let Spark's residual decide
        if (inPreds.nonEmpty && inPreds.forall(p => cols.contains(p._1))) {
          inPreds.foreach { case (k, vs) =>
            val kv = col(k)
            // hashed membership: a runtime join-key set can hold thousands
            // of values — a linear exists() per row would be O(rows x set)
            val set = inSets.getOrElseUpdate(k, {
              val s = new java.util.HashSet[java.nio.ByteBuffer](vs.length * 2)
              vs.foreach(v => s.add(java.nio.ByteBuffer.wrap(v)))
              s
            })
            matching = matching.filter(i => kv(i) != null &&
              set.contains(java.nio.ByteBuffer.wrap(kv(i))))
          }
        }
        if (matching.nonEmpty) {
          // 3. late materialization: decode required columns only now
          val outCols = requiredCols.map(c =>
            if (cols.contains(c)) col(c) else null)
          return (matching, outCols)
        }
      }
    }
    null // unreachable
  }

  def close(): Unit =
    if (reader != null) { reader.close(); reader = null }
}

/** row-based reader over the shared cursor; a pushed limit short-circuits
  * the whole cursor — later block groups are never read, let alone decoded
  */
final class GraftRowReader(
    partition: GraftInputPartition,
    requiredCols: Array[String],
    preds: Seq[GraftPred],
    limit: Int = -1)
    extends PartitionReader[InternalRow] {

  private val cursor = new GraftGroupCursor(partition, requiredCols, preds)
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _
  private var emitted = 0L

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (!rows.hasNext) {
      val g = cursor.nextSurviving()
      if (g == null) return false
      val (matching, outCols) = g
      rows = matching.iterator.map { i =>
        InternalRow.fromSeq(outCols.toIndexedSeq.map { vals =>
          if (vals == null || vals(i) == null) null
          else UTF8String.fromBytes(vals(i))
        })
      }
    }
    current = rows.next()
    emitted += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = cursor.close()
}

/** vectorized reader: one ColumnarBatch per surviving block group */
final class GraftColumnarReader(
    partition: GraftInputPartition,
    requiredCols: Array[String],
    preds: Seq[GraftPred],
    limit: Int = -1)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val cursor = new GraftGroupCursor(partition, requiredCols, preds)
  private var batch: ColumnarBatch = null
  private var emitted = 0L

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    if (limit >= 0 && emitted >= limit) return false
    val g = cursor.nextSurviving()
    if (g == null) return false
    val (allMatching, outCols) = g
    // pushed limit: trim the final batch to the remaining budget
    val matching =
      if (limit >= 0 && emitted + allMatching.length > limit)
        allMatching.take((limit - emitted).toInt)
      else allMatching
    emitted += matching.length
    val n = matching.length
    val vectors = new Array[ColumnVector](requiredCols.length)
    var j = 0
    while (j < requiredCols.length) {
      val v = new OnHeapColumnVector(n, StringType)
      val vals = outCols(j)
      if (vals == null) v.putNulls(0, n) // column absent in this partition
      else {
        var i = 0
        while (i < n) {
          val b = vals(matching(i))
          if (b == null) v.putNull(i) else v.putByteArray(i, b, 0, b.length)
          i += 1
        }
      }
      vectors(j) = v
      j += 1
    }
    batch = new ColumnarBatch(vectors, n)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    if (batch != null) { batch.close(); batch = null }
    cursor.close()
  }
}
