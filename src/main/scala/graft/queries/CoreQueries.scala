package graft.queries

import graft.engine.{Decoder, Encoder}
import graft.model.CodecId
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** load + SCALE-ADAPTIVE spread for per-row-compute-heavy pipelines: a
    * small input arrives as fewer scan splits than cores (the driver's
    * tables are single parquet files — ONE task would run all the
    * shingling/hashing), so hash-repartition it to the executor
    * parallelism; a large input already scans with >= cores splits and the
    * spread is a NO-OP (no shuffle added at 100 TB). Deterministic hash
    * partitioning, not round-robin: retried tasks reproduce the same
    * row→partition mapping (SPARK-38388 class of bugs). Results are
    * partitioning-independent (aggregates/joins/distinct downstream).
    */
  def loadSpread(spark: SparkSession, sfDir: String, name: String,
      key: String): DataFrame = {
    val df = load(spark, sfDir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target, col(key))
  }

  /** table row count memoized per (sfDir, table, JVM): the driver testdata
    * is immutable for the JVM's lifetime and Bench re-runs each query
    * twice, so every un-memoized count() is a redundant job per rep. The
    * count is cheap (parquet metadata) — a plain CHM compute is safe.
    */
  private val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    rowCounts.computeIfAbsent(s"$sfDir/$name",
      _ => load(spark, sfDir, name).count()).longValue()

  /** scratch dir for a query's intermediate corpus copy, deleted at JVM
    * exit: Bench runs every query at least twice and Verify once more, so
    * un-reaped per-invocation dirs accumulate corpus-sized copies under
    * /tmp across a session. ONE shutdown hook drains a shared queue — a
    * hook Thread per invocation would pin ~20+ live threads in the runtime
    * hook set for the whole session and delete trees concurrently at exit.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val scratchReaper: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      var p = scratchDirs.poll()
      while (p != null) { rm(p.toFile); p = scratchDirs.poll() }
    }))
  def scratchDir(prefix: String): String = {
    scratchReaper
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }

  /** documents as the engine's all-string input shape */
  def docsAsStrings(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents").select(
      col("doc_id").cast("string").as("doc_id_s"),
      col("text"), col("lang"), col("source"))

  val docCols = Seq("doc_id_s", "text", "lang", "source")
  val docSortKeys = Seq("lang", "source", "doc_id_s")

  def docCfg: Encoder.EncodeConfig =
    Encoder.EncodeConfig(numPartitions = 8, blockRows = 4096)
}

/** Engine-centric queries: the stats pass, the skew/salting plan, codec
  * selection, encode metrics, and the DuckDB-checkable engine round-trip
  * (encode → decode → sha256 per row must equal the original table).
  */
object CoreQueries {
  import Tables._

  /** stats pass per column, built from Spark aggregates (SQL-parity shape).
    * ONE scan computes all three columns' aggregate sets (vs one pass per
    * column), and ndv of the wide `text` column distinct-counts the 64-char
    * sha2 digest instead of shuffling full document bodies — exact for
    * counting purposes and 32 bytes/row on the wire at any scale.
    */
  def statsCols(spark: SparkSession, sfDir: String): DataFrame = {
    val d = load(spark, sfDir, "documents")
    def aggsFor(c: String): Seq[org.apache.spark.sql.Column] = Seq(
      countDistinct(if (c == "text") sha2(col(c), 256) else col(c)).as(s"ndv_$c"),
      min(length(col(c))).cast("long").as(s"min_$c"),
      max(length(col(c))).cast("long").as(s"max_$c"),
      sum(length(col(c))).cast("long").as(s"tot_$c"))
    val cols = Seq("text", "lang", "source")
    val all = count(lit(1)).as("cnt") +: cols.flatMap(aggsFor)
    val stackArgs = cols.map(c =>
      s"'$c', cnt, ndv_$c, min_$c, max_$c, tot_$c").mkString(", ")
    d.agg(all.head, all.tail: _*)
      .selectExpr(s"stack(${cols.length}, $stackArgs) " +
        "as (col_name, cnt, ndv, min_len, max_len, total_len)")
  }

  /** per-source row counts + salt-bucket plan (target 25 rows/bucket) */
  def skewPlan(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("source"), col("cnt"),
        ceil(col("cnt") / 25.0).cast("long").as("n_buckets"))

  /** engine round-trip: encode all documents columns, decode, emit per-row
    * identity projection — the DuckDB oracle runs the same projection on the
    * original table, so any bit difference fails the hash compare.
    */
  def roundtripSha(spark: SparkSession, sfDir: String): DataFrame = {
    val df = docsAsStrings(spark, sfDir)
    val blocks = Encoder.encode(df, docCols, docSortKeys, docCfg)
    Decoder.decode(blocks, docCols)
      .select(col("doc_id_s"), col("lang"), col("source"),
        sha2(col("text"), 256).as("h"))
  }

  /** late-materialized point lookup THROUGH the encoded form: encode
    * documents, then decodeWhereEq(lang='en') with block skipping — the
    * oracle filters the original table, so pruning must lose nothing
    */
  def pointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val df = docsAsStrings(spark, sfDir)
    val blocks = Encoder.encode(df, docCols, docSortKeys, docCfg)
    Decoder.decodeWhereEq(blocks, docCols, "lang", "en")
      .select(col("doc_id_s"), col("lang"), col("source"),
        sha2(col("text"), 256).as("h"))
  }

  /** the same point lookup THROUGH the DataSource V2 seam: encode documents
    * to a block store, then `spark.read.format("graft")` with a SQL filter —
    * EqualTo pushes into block pruning natively; the oracle filters the
    * original table, so pruning must lose nothing
    */
  /** one documents block store per (sfDir, JVM): both DSv2 queries
    * (dsv2Lookup, dsv2Agg) read the same encoded form, so encoding twice
    * would only re-measure the encoder (already covered by
    * q_roundtrip_sha). A dangling entry (store deleted externally)
    * re-encodes; note the memo assumes the source parquet at sfDir is
    * immutable for the JVM's lifetime — true for the driver's testdata.
    */
  // the encode runs inside the holder's lazy val, NOT inside a CHM compute
  // — compute() would hold the map bin lock for the whole multi-minute
  // Spark job, blocking any other thread whose key hashes to the same bin
  // (CHM mapping functions must be short and non-blocking)
  private final class StoreHolder(mk: () => String) { lazy val dir: String = mk() }
  private val dsv2Store =
    new java.util.concurrent.ConcurrentHashMap[String, StoreHolder]()
  @annotation.tailrec
  private def docStore(spark: SparkSession, sfDir: String): String = {
    val h = dsv2Store.computeIfAbsent(sfDir, _ => new StoreHolder(() => {
      val dir = Tables.scratchDir("graft-q-dsv2")
      // doc_key: a unique, NON-sort-key string column (path-like shape) so
      // the store also exercises high-NDV point lookups (q_key_lookup)
      val df = docsAsStrings(spark, sfDir).withColumn("doc_key",
        concat(col("source"), lit("/"), col("doc_id_s")))
      graft.engine.Checkpoint.encodeResumable(
        df, docCols :+ "doc_key", docSortKeys, docCfg,
        dir, s"dsv2:$sfDir")
      dir
    }))
    val d = h.dir // first caller encodes here; others block on the holder only
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(d, "blocks"))) d
    else { // dangling entry (store deleted externally): drop and rebuild
      dsv2Store.remove(sfDir, h)
      docStore(spark, sfDir)
    }
  }

  def dsv2Lookup(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.format("graft").load(docStore(spark, sfDir))
      .where(col("lang") === "en")
      .select(col("doc_id_s"), col("lang"), col("source"),
        sha2(col("text"), 256).as("h"))
  }

  /** point lookup on a HIGH-NDV key through the DSv2 seam: doc_key =
    * source || '/' || doc_id is unique per row and NOT a sort key, so
    * within one source the min/max prefixes cannot prune — this is the
    * path/commit-hash lookup shape where the per-block membership filter
    * (graft.codec.BlockFilter, probed by BlockCodec.mayContain before any
    * decompression) does the skipping. The oracle filters the original
    * table, so filter pruning must lose nothing.
    */
  def keyLookup(spark: SparkSession, sfDir: String): DataFrame = {
    // deterministic probe key: doc 42's key (exists at every driver sf)
    val probe = load(spark, sfDir, "documents").where(col("doc_id") === 42)
      .select(concat(col("source"), lit("/"), col("doc_id").cast("string")))
      .head().getString(0)
    spark.read.format("graft").load(docStore(spark, sfDir))
      .where(col("doc_key") === probe)
      .select(col("doc_id_s"), col("doc_key"), col("lang"),
        sha2(col("text"), 256).as("h"))
  }

  /** min/max/count THROUGH the DSv2 aggregate pushdown: the scan answers
    * from block METADATA (min/max value prefixes + rowCounts) with a
    * tie-break decode only for blocks whose possibly-truncated prefix ties
    * the partition extreme; the oracle computes the same aggregates over
    * the original table, so the metadata path must be value-exact.
    * `text` values exceed the 24-char prefix, so the tie-break decode leg
    * is exercised, not just the pure-metadata one.
    */
  def dsv2Agg(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.format("graft").load(docStore(spark, sfDir)).agg(
      min(col("doc_id_s")).as("mn_id"), max(col("doc_id_s")).as("mx_id"),
      min(col("text")).as("mn_text"), max(col("text")).as("mx_text"),
      count(lit(1)).as("n"))
  }

  /** ordered head through the DSv2 top-N pushdown: the store is written by
    * the sorted one-shot writer (full sort-order claim, single file per
    * partition), so ORDER BY its sort keys + LIMIT reads just the head of
    * each already-sorted partition — no per-partition sort, no full decode.
    * The key (lang, source, doc_id_s) is unique per row, so the result set
    * is deterministic and the oracle can replay it exactly. NOTE: doc_id_s
    * orders as a STRING ("10" < "2") on both sides.
    */
  def topN(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Tables.scratchDir("graft-q-topn")
    docsAsStrings(spark, sfDir).write.format("graft")
      .option("sortKeys", "lang,source,doc_id_s")
      .option("numPartitions", "4").mode("overwrite").save(dir)
    spark.read.format("graft").load(dir)
      .orderBy(col("lang"), col("source"), col("doc_id_s"))
      .limit(50)
      .select(col("doc_id_s"), col("lang"), col("source"),
        sha2(col("text"), 256).as("h"))
  }

  /** compaction round-trip: write documents through the DSv2 writer in two
    * appends (fragmenting every partition directory), compact to one file
    * per partition, read back through the DSv2 reader. The oracle
    * aggregates the original table — compaction may move bytes, never rows.
    */
  def compactRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Tables.scratchDir("graft-q-compact")
    val df = docsAsStrings(spark, sfDir)
    df.where(col("doc_id_s").cast("long") % 2 === 0)
      .write.format("graft").option("sortKeys", "lang,source,doc_id_s")
      .option("numPartitions", "4").mode("overwrite").save(dir)
    df.where(col("doc_id_s").cast("long") % 2 === 1)
      .write.format("graft").option("sortKeys", "lang,source,doc_id_s")
      .option("numPartitions", "4").mode("append").save(dir)
    graft.datasource.GraftCompact.compactStore(spark, dir)
    spark.read.format("graft").load(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("text"))).cast("long").as("total_text_len"))
  }

  /** Streaming round-trip through BOTH native streaming seams: batch-encode
    * documents into a graft store, readStream it as micro-batches (pinned
    * file set via AvailableNow), writeStream through the epoch-idempotent
    * graft sink into a second store, then aggregate the landed store — a
    * correct pipeline must reproduce the original table's aggregates. This
    * is the driver-visible form of the sbt streaming specs (source offsets,
    * sink commit protocol, epoch markers all exercised for real).
    */
  def streamRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Tables.scratchDir("graft-q-stream")
    val df = docsAsStrings(spark, sfDir)
    df.write.format("graft").option("sortKeys", "lang,source,doc_id_s")
      .option("numPartitions", "4").mode("overwrite").save(s"$dir/src")
    val q = spark.readStream.format("graft").load(s"$dir/src")
      .writeStream.format("graft")
      .option("sortKeys", "lang,source,doc_id_s")
      // mirror the source store's declared partitioning: without the
      // option the sink's RequiresDistributionAndOrdering falls back to
      // spark.sql.shuffle.partitions and re-fans the 4-partition table
      // into 32 near-empty files per epoch
      .option("numPartitions", "4")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$dir/dst")
    q.awaitTermination()
    spark.read.format("graft").load(s"$dir/dst")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("text"))).cast("long").as("total_text_len"))
  }

  /** sampled stats pass + selector decision per (partition, column) */
  def codecSelection(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val df = docsAsStrings(spark, sfDir)
    val partitioned = Encoder.partitionInput(df, docCols, docSortKeys, docCfg)
    Encoder.statsPass(partitioned, docCols)
      .map { s =>
        val codec = graft.plan.CodecSelector.select(s)
        (s.colName, s.partId, CodecId.name(codec.id), s.count, s.ndv,
          s.maxRun.toLong, s.totalBytes)
      }
      .toDF("col_name", "part_id", "codec", "cnt", "ndv", "max_run", "total_bytes")
      .orderBy("col_name", "part_id")
  }

  /** Selector decision table pinned on crafted per-branch probe columns:
    * one synthetic value distribution per decision-tree branch
    * (CodecSelector.select), each generated deterministically inside its
    * own task (no shuffle — the probes are independent). The DuckDB oracle
    * is a VALUES CTE of the expected (col_name, codec) pairs, so ANY drift
    * in the selector's thresholds or ordering fails the driver loudly —
    * the q_infer_schema treatment applied to codec selection. Input is
    * sfDir-independent by design: the decision tree, not the data, is
    * under test (q_codec_selection keeps the per-partition stats payload,
    * rows-only by contract).
    */
  def codecDecisions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val probes = Seq("p_for", "p_rle", "p_dictrle", "p_dict", "p_hex",
      "p_fsst", "p_plain")
    spark.createDataset(probes).repartition(probes.length)
      .map { name =>
        def gen(n: Int)(f: Int => String): Array[Array[Byte]] =
          Array.tabulate(n)(i => f(i).getBytes("UTF-8"))
        val values: Array[Array[Byte]] = name match {
          // canonical longs, packable range → frame-of-reference
          case "p_for" => gen(50000)(i => (1000000 + i).toString)
          // runs of 4 with ndv ABOVE the 2^16 exactness cap → dict is
          // excluded (inexact ndv), run structure → rle
          case "p_rle" => gen(280000)(i => "r" + (i / 4))
          // low ndv AND runs → dictionary with RLE'd indices
          case "p_dictrle" => gen(50000)(i => "v" + ((i / 8) % 40))
          // low ndv, no run structure → plain dictionary
          case "p_dict" => gen(50000)(i => "cat" + ((i * 7919) % 50))
          // uniform even-length lowercase hex (letters present, so not
          // canonical longs) → nibble packing
          case "p_hex" => gen(20000)(i => f"f${i * 2654435761L}%015x")
          // long high-entropy text → FSST
          case "p_fsst" => gen(20000)(i => s"the quick brown fox jumps over $i")
          // short, unique, non-numeric, non-hex → plain fallback
          case "p_plain" => gen(20000)(i => f"z$i%07d")
        }
        val codec = graft.plan.CodecSelector.select(
          graft.stats.BlockStats.compute(name, 0, values))
        (name, CodecId.name(codec.id))
      }
      .toDF("col_name", "codec")
      .orderBy("col_name")
  }

  /** full encode of documents; per-column codec + size metrics */
  def encodeMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val df = docsAsStrings(spark, sfDir)
    val blocks = Encoder.encode(df, docCols, docSortKeys, docCfg)
    blocks
      .groupBy(col("colName"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("codecId")))).as("codecs"),
        count(lit(1)).as("n_blocks"),
        sum(col("rowCount")).as("rows"),
        sum(col("rawBytes")).as("raw_bytes"),
        sum(col("encodedBytes")).as("encoded_bytes"))
      .orderBy("colName")
  }

  /** Block-cutting arithmetic pinned by a DuckDB oracle: a single-partition
    * encode with blockRows=64 makes blocks-per-column exactly ceil(N/64)
    * (the 32 MB Encoder.BlockBytes early-cut cannot trigger at 64 document rows),
    * rows = N, and raw_bytes = per-column UTF-8 byte totals (BlockCodec
    * counts value bytes; nulls contribute 0 and docsAsStrings has none) —
    * all three recomputable from the original table, so any drift in the
    * cutter or the byte accounting fails the hash compare loudly.
    * Codec ids / encoded sizes stay rows-only by contract in
    * q_encode_metrics (prototype: tools/oracle_proto9.py).
    */
  def encodeBlocks(spark: SparkSession, sfDir: String): DataFrame = {
    val df = docsAsStrings(spark, sfDir)
    val cfg = Encoder.EncodeConfig(numPartitions = 1, blockRows = 64)
    Encoder.encode(df, docCols, docSortKeys, cfg)
      .groupBy(col("colName").as("col_name"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(col("rowCount")).cast("long").as("n_rows"),
        sum(col("rawBytes")).cast("long").as("raw_bytes"))
      .orderBy("col_name")
  }

  // ---- relational coverage (agg / join / window / time-window) ----------

  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")) * 100).cast("long").as("sum_qty_c"),
        round(sum(col("l_extendedprice")) * 100).cast("long").as("sum_price_c"),
        count(lit(1)).as("cnt"))

  def joinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = load(spark, sfDir, "orders")
    val li = load(spark, sfDir, "lineitem")
    // no forced broadcast: Spark's size-based planning (and AQE at runtime)
    // broadcasts orders while it fits autoBroadcastJoinThreshold and falls
    // back to a shuffled hash join when it outgrows memory at 100× — a
    // hard broadcast() hint would OOM there
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) * 100)
          .cast("long").as("revenue_c"))
  }

  def windowTopOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    load(spark, sfDir, "orders")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 2)
      .select("o_custkey", "o_orderkey", "rnk")
  }

  /** tumbling-window aggregation (same plan shape works under readStream) */
  def eventsHourly(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")) * 100).cast("long").as("value_c"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("value_c"))
}
