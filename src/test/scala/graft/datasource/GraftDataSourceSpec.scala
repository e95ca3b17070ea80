package graft.datasource

import graft.engine.{Checkpoint, Encoder}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 seam: spark.read.format("graft") over an encoded block
  * store must reproduce the original table through SQL — full scans,
  * filtered scans (block pruning + late materialization behind a residual
  * re-check), and column pruning. The filtered result must equal filtering
  * the original table: pruning may only skip blocks, never rows.
  */
class GraftDataSourceSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-dsv2-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val store: String = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val langs = Seq("en", "fr", "de", "ja", "pt")
    val df = (0 until 4000).map { i =>
      (i.toString, s"body of document $i " + ("x" * (i % 50)),
        langs(i % langs.length), s"src${i % 7}")
    }.toDF("doc_id_s", "text", "lang", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2").toString
    Checkpoint.encodeResumable(df, Seq("doc_id_s", "text", "lang", "source"),
      Seq("lang", "source", "doc_id_s"),
      Encoder.EncodeConfig(numPartitions = 4, blockRows = 256), dir, "dsv2")
    dir
  }

  private def original = {
    import spark.implicits._
    val langs = Seq("en", "fr", "de", "ja", "pt")
    (0 until 4000).map { i =>
      (i.toString, s"body of document $i " + ("x" * (i % 50)),
        langs(i % langs.length), s"src${i % 7}")
    }.toDF("doc_id_s", "text", "lang", "source")
  }

  test("full scan reproduces every row bit-identically") {
    val got = spark.read.format("graft").load(store)
    assert(got.schema.fieldNames.sorted.toSeq ==
      Seq("doc_id_s", "lang", "source", "text"))
    assert(got.count() == 4000)
    assert(graft.verify.Sha256Check.mismatchGroups(
      original, got, Seq("doc_id_s", "text", "lang", "source")) == 0)
  }

  test("EqualTo filter pushes down and loses nothing") {
    val got = spark.read.format("graft").load(store).where(col("lang") === "en")
    val expected = original.where(col("lang") === "en")
    assert(got.count() == expected.count())
    assert(graft.verify.Sha256Check.mismatchGroups(
      expected, got, Seq("doc_id_s", "text", "lang", "source")) == 0)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan"), plan.take(500))
    assert(plan.contains("lang = en"), plan.take(800))
    // Spark's implied IsNotNull rides along (prunes all-null blocks)
    assert(plan.contains("lang is not null"), plan.take(800))
  }

  test("In-list filter pushes down and loses nothing") {
    val got = spark.read.format("graft").load(store)
      .where(col("lang").isin("en", "ja", "zz"))
    val expected = original.where(col("lang").isin("en", "ja", "zz"))
    assert(got.count() == expected.count())
    assert(graft.verify.Sha256Check.mismatchGroups(
      expected, got, Seq("doc_id_s", "text", "lang", "source")) == 0)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("lang in (en,ja,zz)"), plan.take(900))
    // all-absent list scans empty
    assert(spark.read.format("graft").load(store)
      .where(col("lang").isin("zz", "qq")).count() == 0)
  }

  test("filter on a value absent from the store returns zero rows") {
    val got = spark.read.format("graft").load(store)
      .where(col("lang") === "zz")
    assert(got.count() == 0)
  }

  test("column pruning decodes only requested columns") {
    val got = spark.read.format("graft").load(store)
      .select("lang").where(col("lang") === "fr")
    assert(got.count() == 800)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan"))
    // ReadSchema in the scan description must have shrunk to lang only
    assert(plan.contains("ReadSchema: struct<lang:string>"), plan.take(800))
  }

  test("prefix-based pruning rules are conservative (truncation-safe)") {
    import GraftPruning._
    // pMax is a PREFIX of the true max — only first-|P|-chars conclusions
    assert(!lowerMayMatch("abc", "abd")) // max starts "abc" → max < "abd"
    assert(lowerMayMatch("abc", "abc"))
    assert(lowerMayMatch("abc", "ab")) // v shorter & ≤ prefix → may match
    val truncated = "a" * 24 // stands for a longer max "aaaa...aaazzz"
    assert(lowerMayMatch(truncated, "a" * 25)) // can't conclude → keep
    assert(!lowerMayMatch(truncated, "b"))
    assert(lowerMayMatch(null, "zzz")) // all-null prefix → never skip
    assert(!upperMayMatch("abc", "abb")) // min ≥ "abc" > "abb" → skip
    assert(upperMayMatch("abc", "abc"))
    assert(upperMayMatch("ab", "abc")) // truncated min could still be ≤ v
    assert(prefixMayMatch("abc", "abd", "ab")) // pMin starts with p → keep
    assert(!prefixMayMatch("b", "c", "a")) // all p-prefixed < min → skip
    assert(eqMayMatch("abc", "abd", "abc"))
    assert(!eqMayMatch("abc", "abd", "abb")) // v < min → skip
    assert(!eqMayMatch("abc", "abd", "abe")) // v > max → skip
    assert(eqMayMatch("a" * 24, "a" * 24, "a" * 30)) // truncated → keep
    assert(blockMayMatch(GraftPred("notnull", "c", null), "x", "y"))
    assert(!blockMayMatch(GraftPred("notnull", "c", null), null, null))
    assert(blockMayMatch(GraftPred("in", "c", null, Seq("q", "abc")), "abc", "abd"))
    assert(!blockMayMatch(GraftPred("in", "c", null, Seq("q", "z")), "abc", "abd"))
  }

  test("range and startsWith filters push down and lose nothing") {
    val base = spark.read.format("graft").load(store)
    val ranged = base.where(col("lang") >= "en" && col("lang") < "ja")
    val expected = original.where(col("lang") >= "en" && col("lang") < "ja")
    assert(ranged.count() == expected.count())
    assert(graft.verify.Sha256Check.mismatchGroups(
      expected, ranged, Seq("doc_id_s", "text", "lang", "source")) == 0)
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("lang >= en") && plan.contains("lang <= ja"), plan.take(900))

    val sw = base.where(col("source").startsWith("src1"))
    assert(sw.count() == original.where(col("source").startsWith("src1")).count())
    assert(sw.queryExecution.executedPlan.toString.contains("source startswith src1"))
  }

  test("count(*) pushes down to metadata-only scan (no decode at all)") {
    val df = spark.read.format("graft").load(store)
    val counted = df.agg(count(lit(1)))
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [count(*)]"), plan.take(800))
    assert(counted.head().getLong(0) == 4000)
    // pushdown must NOT fire when a filter is present (filters are residual)
    val filtered = df.where(col("lang") === "en").agg(count(lit(1)))
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(!fplan.contains("GraftCountStarScan"), fplan.take(800))
    assert(filtered.head().getLong(0) == 800)
  }

  test("runtime filter() prunes like a pushed filter and loses nothing") {
    val schema = spark.read.format("graft").load(store).schema

    def rowsAfter(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val scan = GraftScan(store, schema, Nil)
      scan.filter(filters)
      val factory = scan.createReaderFactory()
      var n = 0L
      scan.planInputPartitions().foreach { p =>
        val r = factory.createReader(p)
        while (r.next()) n += 1
        r.close()
      }
      n
    }

    // join-derived In-set (the DPP shape): rows outside it never decode
    assert(rowsAfter(Array(org.apache.spark.sql.sources.In(
      "lang", Array("en", "ja")))) ==
      original.where(col("lang").isin("en", "ja")).count())
    // single-key runtime EqualTo
    assert(rowsAfter(Array(org.apache.spark.sql.sources.EqualTo("lang", "fr"))) ==
      original.where(col("lang") === "fr").count())
    // oversize In-set is ignored — the scan must stay COMPLETE, not empty
    assert(rowsAfter(Array(org.apache.spark.sql.sources.In(
      "lang", Array.fill[Any](GraftScan.RuntimeInCap + 1)("en")))) == 4000)
    // every projected column is advertised as runtime-filterable
    val attrs = GraftScan(store, schema, Nil).filterAttributes().map(_.describe()).toSet
    assert(attrs == Set("doc_id_s", "text", "lang", "source"))
  }

  test("broadcast join against the store stays correct under runtime filtering") {
    import spark.implicits._
    val dim = Seq(("en", "english"), ("ja", "japanese")).toDF("lang", "lang_name")
    val fact = spark.read.format("graft").load(store)
    val joined = fact.join(broadcast(dim), Seq("lang"))
    assert(joined.count() ==
      original.where(col("lang").isin("en", "ja")).count())
  }

  test("scan reports metadata statistics so size-based planning works") {
    val df = spark.read.format("graft").load(store)
    val stats = df.queryExecution.optimizedPlan.stats
    // without SupportsReportStatistics this is spark.sql.defaultSizeInBytes
    // (Long.MaxValue) and the store could never be a broadcast side
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < (10L << 20),
      s"sizeInBytes=${stats.sizeInBytes}")

    // a join with NO broadcast hint must pick a broadcast strategy because
    // the store's reported size fits autoBroadcastJoinThreshold
    val joined = original.join(
      spark.read.format("graft").load(store).select("doc_id_s", "lang"), Seq("doc_id_s"))
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      joined.queryExecution.executedPlan.toString.take(900))
    assert(joined.count() == 4000)
  }

  test("sorted store reports output ordering; Spark drops redundant sorts") {
    def sortExecs(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the shared Checkpoint store salts its skewed langs, so only the
      // HEAD sort key's order survives — and only that may be claimed
      val cp = spark.read.format("graft").load(store)
      assert(sortExecs(cp.sortWithinPartitions("lang")).isEmpty,
        "head-key sort should be dropped")
      assert(sortExecs(cp.sortWithinPartitions("lang", "source")).nonEmpty,
        "salted store must NOT claim the full key order")

      // the DSv2 batch writer sorts by exactly its sortKeys → full claim
      val dir = java.nio.file.Files.createTempDirectory("graft-ordering").toString
      original.write.format("graft")
        .option("sortKeys", "lang,source,doc_id_s")
        .option("numPartitions", "4").mode("overwrite").save(dir)
      val w = spark.read.format("graft").load(dir)
      assert(sortExecs(w.sortWithinPartitions("lang", "source", "doc_id_s")).isEmpty)

      // verify the DATA actually satisfies the claim, not just the plan
      import spark.implicits._
      val violations = w.select("lang", "source", "doc_id_s")
        .as[(String, String, String)]
        .mapPartitions { it =>
          var prev: (String, String, String) = null
          var bad = 0
          it.foreach { t =>
            if (prev != null && Ordering[(String, String, String)].gt(prev, t)) bad += 1
            prev = t
          }
          Iterator.single(bad)
        }.collect().sum
      assert(violations == 0, s"$violations out-of-order rows")

      // an append interleaves sorted files → claim cleared, sorts stay
      original.limit(100).write.format("graft")
        .option("sortKeys", "lang,source,doc_id_s")
        .option("numPartitions", "4").mode("append").save(dir)
      val appended = spark.read.format("graft").load(dir)
      assert(sortExecs(appended.sortWithinPartitions("lang")).nonEmpty,
        "appended store must not claim any ordering")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("limit pushdown stops each partition reader early") {
    val limited = spark.read.format("graft").load(store).limit(7)
    assert(limited.collect().length == 7)
    assert(limited.queryExecution.executedPlan.toString.contains("PushedLimit: 7"),
      limited.queryExecution.executedPlan.toString.take(900))

    // reader-level contract: at most `limit` rows leave a partition
    val factory = GraftReaderFactory(
      Array("doc_id_s", "lang"), Nil, limit = 5)
    val part = GraftScan(store, spark.read.format("graft").load(store).schema, Nil)
      .planInputPartitions().head
    val r = factory.createReader(part)
    var n = 0
    while (r.next()) n += 1
    r.close()
    assert(n == 5, s"row reader emitted $n")
    val cr = factory.createColumnarReader(part)
    var cn = 0
    while (cr.next()) cn += cr.get().numRows()
    cr.close()
    assert(cn == 5, s"columnar reader emitted $cn")
  }

  test("top-n pushes down only when the store's recorded order matches") {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    def asc(c: String) = Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)
    def desc(c: String) = Expressions.sort(Expressions.column(c), SortDirection.DESCENDING)

    // sorted single-file store written by the DSv2 writer → full key claim
    val dir = java.nio.file.Files.createTempDirectory("graft-topn").toString
    original.write.format("graft")
      .option("sortKeys", "lang,source,doc_id_s")
      .option("numPartitions", "4").mode("overwrite").save(dir)
    val schema = spark.read.format("graft").load(dir).schema

    def builderPush(path: String, orders: Array[org.apache.spark.sql.connector.expressions.SortOrder]): Boolean =
      new GraftScanBuilder(path, schema).pushTopN(orders, 5)

    assert(builderPush(dir, Array(asc("lang"))))
    assert(builderPush(dir, Array(asc("lang"), asc("source"))))
    assert(!builderPush(dir, Array(asc("source"))), "non-prefix order must not push")
    assert(!builderPush(dir, Array(desc("lang"))), "descending must not push")
    // the salted Checkpoint store claims only its head key
    assert(builderPush(store, Array(asc("lang"))))
    assert(!builderPush(store, Array(asc("lang"), asc("source"))))

    // end-to-end: ordered limit answers match the original table
    val got = spark.read.format("graft").load(dir)
      .orderBy("lang", "source", "doc_id_s").limit(5)
      .select("doc_id_s", "lang").collect().map(_.toString)
    val want = original.orderBy("lang", "source", "doc_id_s").limit(5)
      .select("doc_id_s", "lang").collect().map(_.toString)
    assert(got.toSeq == want.toSeq)
  }

  test("Decoder.decodeStore routes through the shuffle-free DSv2 path") {
    val got = graft.engine.Decoder.decodeStore(spark, store,
      Seq("doc_id_s", "text", "lang", "source"))
    assert(got.count() == 4000)
    assert(graft.verify.Sha256Check.mismatchGroups(
      original, got, Seq("doc_id_s", "text", "lang", "source")) == 0)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"must not shuffle:\n${plan.take(600)}")
  }

  test("DSv2 writer: df.write.format(graft) round-trips bit-identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-write").toString
    original.write.format("graft")
      .option("sortKeys", "lang,source,doc_id_s")
      .option("numPartitions", "4")
      .mode("overwrite")
      .save(dir)
    // Spark planned the clustering+sort the encoder requires
    val back = spark.read.format("graft").load(dir)
    assert(back.count() == 4000)
    assert(graft.verify.Sha256Check.mismatchGroups(
      original, back, Seq("doc_id_s", "text", "lang", "source")) == 0)
    // sorted clustering makes lang blocks prunable: absent value scans empty
    assert(back.where(col("lang") === "zz").count() == 0)
    // overwrite replaces prior content
    original.limit(100).write.format("graft")
      .option("sortKeys", "lang").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 100)
    // append adds files to the same partition dirs: the reader must keep
    // per-FILE block groups apart (blockIdx is only unique within a file)
    original.limit(100).write.format("graft")
      .option("sortKeys", "lang").mode("append").save(dir)
    val appended = spark.read.format("graft").load(dir)
    assert(appended.count() == 200)
    assert(graft.verify.Sha256Check.mismatchGroups(
      original.limit(100).unionAll(original.limit(100)), appended,
      Seq("doc_id_s", "text", "lang", "source")) == 0)
  }

  test("writer commit protocol: unreported attempts never duplicate rows") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    spark.sparkContext.setLogLevel("WARN") // force session init
    val dir = java.nio.file.Files.createTempDirectory("graft-commit").toString
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", StringType)))
    val bw = new GraftBatchWrite(dir, schema, truncate = false, writeId = "w1")
    val factory = bw.createBatchWriterFactory(null)
    def rows: Seq[InternalRow] = (0 until 40).map(i =>
      InternalRow(UTF8String.fromString(s"k$i"), UTF8String.fromString(s"v$i")))
    // attempt 1 writes and even task-commits (file staged), but its message
    // never reaches the driver — executor lost / speculation loser
    val loser = factory.createWriter(0, 1L)
    rows.foreach(loser.write)
    loser.commit()
    // attempt 2 is the one the commit coordinator admits
    val winner = factory.createWriter(0, 2L)
    rows.foreach(winner.write)
    val msg = winner.commit()
    bw.commit(Array(msg))
    // exactly one attempt's rows visible; staging (with the straggler) swept
    val back = spark.read.format("graft").load(dir)
    assert(back.count() == 40)
    val staged = new java.io.File(dir, "blocks").listFiles()
      .filter(_.getName.startsWith("_staging"))
    assert(staged.isEmpty, s"staging not swept: ${staged.mkString(",")}")
  }

  test("writer truncate is deferred: a failed overwrite keeps the old store") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft-trunc").toString
    original.limit(100).write.format("graft")
      .option("sortKeys", "lang").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 100)
    // an overwrite job that stages data but ABORTS must leave the old store
    val schema = StructType(Seq(StructField("k", StringType)))
    val bw = new GraftBatchWrite(dir, schema, truncate = true, writeId = "w2")
    val w = bw.createBatchWriterFactory(null).createWriter(0, 9L)
    w.write(InternalRow(UTF8String.fromString("x")))
    val m = w.commit()
    bw.abort(Array(m))
    assert(spark.read.format("graft").load(dir).count() == 100,
      "failed overwrite must not destroy the previous store")
    assert(spark.read.format("graft").load(dir).columns.toSeq
      == Seq("doc_id_s", "lang", "source", "text"))
  }

  test("min/max/count push down to metadata + tie-break decode") {
    val df = spark.read.format("graft").load(store)
    val agged = df.agg(min(col("doc_id_s")).as("mn"), max(col("doc_id_s")).as("mx"),
      count(lit(1)).as("n"))
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAggScan"), plan.take(900))
    val r = agged.head()
    val e = original.agg(min(col("doc_id_s")), max(col("doc_id_s")), count(lit(1))).head()
    assert(r.getString(0) == e.getString(0) && r.getString(1) == e.getString(1)
      && r.getLong(2) == e.getLong(2))

    // text values exceed 24 chars → stored prefixes are truncated, so the
    // winner must come from the pass-2 single-block decode, not the prefix
    val t = df.agg(min(col("text")).as("mn"), max(col("text")).as("mx"))
    assert(t.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    val tr = t.head()
    val te = original.agg(min(col("text")), max(col("text"))).head()
    assert(tr.getString(0) == te.getString(0), s"min: ${tr.getString(0)}")
    assert(tr.getString(1) == te.getString(1), s"max: ${tr.getString(1)}")
    assert(tr.getString(1).length > 24, "fixture must force truncated prefixes")

    // filters present → no agg pushdown (prefix pruning is filter-coupled)
    val f = df.where(col("lang") === "en").agg(max(col("doc_id_s")))
    assert(!f.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(f.head().getString(0) ==
      original.where(col("lang") === "en").agg(max(col("doc_id_s"))).head().getString(0))

    // group-by → no pushdown, plain scan answers it
    val g = df.groupBy("lang").agg(max(col("doc_id_s")).as("mx"))
    assert(!g.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(g.count() == 5)
  }

  test("min/max pushdown exact across 23/24-char prefix cuts (surrogates)") {
    import spark.implicits._
    // block A: values cut to a 24-char prefix ("x"*23 + 'b'); block B:
    // a supplementary char at position 24 forces the 23-char cut ("x"*23).
    // B's prefix is the byte-smaller pivot, but A's values ARE the true
    // minimum — the candidate rule must decode prefix-extending blocks too.
    val base = "x" * 23
    val vals = (0 until 50).map(i => base + "b" + f"$i%03d") ++
      (0 until 50).map(i => base + "😀" + f"$i%03d")
    val df = vals.zipWithIndex.map { case (v, i) => (i.toString, v) }
      .toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-agg-sur").toString
    Checkpoint.encodeResumable(df, Seq("id", "v"), Seq("v"),
      Encoder.EncodeConfig(numPartitions = 1, blockRows = 50), dir, "sur")
    val agged = spark.read.format("graft").load(dir)
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    assert(agged.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    val r = agged.head()
    assert(r.getString(0) == vals.min, s"min: ${r.getString(0)}")
    assert(r.getString(1) == vals.max, s"max: ${r.getString(1)}")
  }

  test("scan is vectorized: ColumnarToRow over batch-per-block-group") {
    val got = spark.read.format("graft").load(store)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan.take(600))
    // filtered + pruned scans run through the same columnar reader
    val filtered = got.where(col("lang") === "fr").select("doc_id_s", "lang")
    assert(filtered.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(filtered.count() == 800)
    assert(filtered.where(col("doc_id_s") === "7").count() == 0) // doc 7 is de
    assert(got.where(col("doc_id_s") === "7").head().getString(2) == "src0")
  }

  test("readStream over a graft store: appends arrive as micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    original.limit(100).write.format("graft")
      .option("sortKeys", "lang").mode("overwrite").save(dir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ck").toString
    // foreachBatch (not the memory sink): it supports checkpoint recovery,
    // which the restart leg below depends on
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    def start() = spark.readStream.format("graft").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => { b.collect().foreach(seen.add); () })
      .start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(seen.size == 100)
      // append-only source: new files form the next micro-batch, no re-reads
      original.limit(250).write.format("graft")
        .option("sortKeys", "lang").mode("append").save(dir)
      q.processAllAvailable()
      assert(seen.size == 350)
      import scala.jdk.CollectionConverters._
      val got = spark.createDataFrame(
        seen.asScala.toSeq.asJava, spark.read.format("graft").load(dir).schema)
      assert(graft.verify.Sha256Check.mismatchGroups(
        original.limit(100).unionAll(original.limit(250)), got,
        Seq("doc_id_s", "text", "lang", "source")) == 0)
      // offset round-trips through its JSON form
      val off = GraftStreamOffset(Map(3 -> Seq("a.parquet", "b.parquet"), 7 -> Nil))
      assert(GraftStreamOffset.fromJson(off.json()) == off)
    } finally q.stop()

    // checkpoint recovery: a restarted query resumes from the committed
    // offset (deserializeOffset path) and sees ONLY files appended since
    seen.clear()
    original.limit(40).write.format("graft")
      .option("sortKeys", "lang").mode("append").save(dir)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.size == 40,
        s"restart must resume from the committed offset, got ${seen.size}")
      // pin CONTENT, not just count: replaying old files that happen to
      // total 40 rows must fail
      import scala.jdk.CollectionConverters._
      val got2 = spark.createDataFrame(
        seen.asScala.toSeq.asJava, spark.read.format("graft").load(dir).schema)
      assert(graft.verify.Sha256Check.mismatchGroups(
        original.limit(40), got2,
        Seq("doc_id_s", "text", "lang", "source")) == 0)
    } finally q2.stop()
  }

  test("SQL over a registered graft table") {
    spark.read.format("graft").load(store).createOrReplaceTempView("graft_docs")
    val n = spark.sql(
      "SELECT count(*) FROM graft_docs WHERE lang = 'ja' AND source = 'src3'")
      .head().getLong(0)
    val exp = original.where(col("lang") === "ja" && col("source") === "src3").count()
    assert(n == exp)
  }

  test("format marker: writers stamp v2; missing/wrong marker refuses loudly") {
    import graft.engine.StoreMeta
    val conf = spark.sparkContext.hadoopConfiguration
    val blocks = GraftDataSource.blocksDir(store).toString
    // every writer path stamps the marker
    assert(StoreMeta.readFormatVersion(conf, blocks).contains(StoreMeta.FormatVersion))

    // build a small disposable store and sabotage the marker
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    Seq(("a", "1"), ("b", "2")).toDF("k", "v")
      .write.format("graft").option("sortKeys", "k").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 2)
    val bdir = GraftDataSource.blocksDir(dir).toString
    val fs = new org.apache.hadoop.fs.Path(bdir).getFileSystem(conf)
    val marker = new org.apache.hadoop.fs.Path(bdir, StoreMeta.FormatFile)

    // marker deleted (pre-v2 store shape): deterministic refusal, not a
    // silent misparse
    fs.delete(marker, false)
    val e1 = intercept[IllegalStateException] {
      spark.read.format("graft").load(dir).count()
    }
    assert(e1.getMessage.contains("no " + StoreMeta.FormatFile))

    // wrong version: refusal names both versions
    val out = fs.create(marker, true)
    out.write("""{"formatVersion":1}""".getBytes("UTF-8")); out.close()
    val e2 = intercept[IllegalStateException] {
      spark.read.format("graft").load(dir).count()
    }
    assert(e2.getMessage.contains("format version 1"))

    // a USER-SUPPLIED schema skips inference (supportsExternalMetadata) —
    // the scan path itself must still refuse, or an unchecked store would
    // decode into wrong values silently
    val e2b = intercept[Exception] {
      spark.read.format("graft")
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType))))
        .load(dir).count()
    }
    assert(Iterator.iterate(e2b: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("format version 1"))),
      e2b.getMessage)

    // stamping v2 OVER the live wrong-version marker must itself refuse
    // (the guard lives inside writeFormatMarker, not just in checkFormat)
    val e3 = intercept[IllegalStateException] {
      StoreMeta.writeFormatMarker(conf, bdir)
    }
    assert(e3.getMessage.contains("format version 1"))

    // the documented remedy — remove the bogus marker — then restores reads
    fs.delete(marker, false)
    StoreMeta.writeFormatMarker(conf, bdir)
    assert(spark.read.format("graft").load(dir).count() == 2)
  }

  test("streaming epoch replay with a different partition set refuses loudly") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-epoch").toString
    val schema = StructType(Seq(StructField("k", StringType)))
    val w = new GraftStreamingWrite(dir, schema, "query-x")
    def staged(name: String): String = {
      val p = java.nio.file.Paths.get(dir, "blocks", "_stage-test", name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, Array[Byte](1, 2, 3))
      p.toString
    }
    // original attempt publishes partitions {0, 1}
    w.commit(7L, Array(GraftCommit(0, 5, staged("a.parquet")),
      GraftCommit(1, 5, staged("b.parquet"))))
    // identical replay dedupes silently (file names + epoch marker agree)
    w.commit(7L, Array(GraftCommit(0, 5, staged("a2.parquet")),
      GraftCommit(1, 5, staged("b2.parquet"))))
    // replay that plans a DIFFERENT partition set (shuffle partitioning
    // changed across restart) must fail loudly instead of mixing attempts
    val e = intercept[IllegalStateException] {
      w.commit(7L, Array(GraftCommit(2, 10, staged("c.parquet"))))
    }
    assert(e.getMessage.contains("partitioning must be pinned"))
  }

  test("replayed epoch whose published file vanished (compaction) refuses") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-epoch-gone").toString
    val schema = StructType(Seq(StructField("k", StringType)))
    val w = new GraftStreamingWrite(dir, schema, "query-y")
    def staged(name: String): String = {
      val p = java.nio.file.Paths.get(dir, "blocks", "_stage-test", name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, Array[Byte](1, 2, 3))
      p.toString
    }
    w.commit(3L, Array(GraftCommit(0, 5, staged("a.parquet"))))
    val qTag = Integer.toHexString("query-y".hashCode)
    val dest = java.nio.file.Paths.get(dir, "blocks", "partId=0",
      s"part-q$qTag-e3-p0.parquet")

    // crash-window replay: marker renamed but the file never published
    // (no compaction evidence) — the replay must FINISH the publish, not
    // refuse (the marker is written before the files by design)
    assert(java.nio.file.Files.deleteIfExists(dest))
    w.commit(3L, Array(GraftCommit(0, 5, staged("a2.parquet"))))
    assert(java.nio.file.Files.exists(dest), "replay must complete the publish")

    // compaction case: file merged away AND a part-compact file sits in the
    // partition dir — publishing again would duplicate the merged rows
    assert(java.nio.file.Files.deleteIfExists(dest))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "blocks", "partId=0", "part-compact-ff.parquet"),
      Array[Byte](9))
    val e = intercept[IllegalStateException] {
      w.commit(3L, Array(GraftCommit(0, 5, staged("a3.parquet"))))
    }
    assert(e.getMessage.contains("merged by a compaction"), e.getMessage)
  }

  test("overwrite replaces a wrong-version store and sweeps epoch markers") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-overwrite-old").toString
    Seq(("a", "1")).toDF("k", "v")
      .write.format("graft").mode("overwrite").option("sortKeys", "k").save(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val bdir = s"$dir/blocks"
    val fs = new Path(bdir).getFileSystem(conf)
    // age the store: wrong format version + a stale epoch marker
    val marker = new Path(bdir, graft.engine.StoreMeta.FormatFile)
    val out = fs.create(marker, true)
    out.write("""{"formatVersion":1}""".getBytes("UTF-8")); out.close()
    val stale = new Path(bdir, "_epoch-qdead-e9.json")
    val out2 = fs.create(stale, true)
    out2.write("""{"partitions":[0]}""".getBytes("UTF-8")); out2.close()
    // append into the old-format store still refuses...
    val eApp = intercept[Exception] {
      Seq(("b", "2")).toDF("k", "v")
        .write.format("graft").mode("append").option("sortKeys", "k").save(dir)
    }
    def msgs(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs(eApp).exists(_.contains("format version")), eApp.getMessage)
    // ...but overwrite REPLACES it: no refusal, v2 restamped, marker swept
    Seq(("c", "3")).toDF("k", "v")
      .write.format("graft").mode("overwrite").option("sortKeys", "k").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 1)
    assert(!fs.exists(stale), "stale epoch marker must die with the old store")
  }

  test("append with a different column set refuses before any task runs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-appendcols").toString
    Seq(("a", "b", "c"), ("d", "e", "f")).toDF("k", "v", "w")
      .write.format("graft").mode("overwrite").option("sortKeys", "k").save(dir)

    // missing column → loud refusal naming both sets
    val e1 = intercept[Exception] {
      Seq(("g", "h")).toDF("k", "v")
        .write.format("graft").mode("append").option("sortKeys", "k").save(dir)
    }
    assert(e1.getMessage.contains("column mismatch") ||
      Option(e1.getCause).exists(_.getMessage.contains("column mismatch")),
      s"got: ${e1.getMessage}")

    // extra column → same refusal
    val e2 = intercept[Exception] {
      Seq(("g", "h", "i", "j")).toDF("k", "v", "w", "x")
        .write.format("graft").mode("append").option("sortKeys", "k").save(dir)
    }
    assert(e2.getMessage.contains("column mismatch") ||
      Option(e2.getCause).exists(_.getMessage.contains("column mismatch")),
      s"got: ${e2.getMessage}")

    // refused writes published nothing
    assert(spark.read.format("graft").load(dir).count() == 2)

    // the SAME column set (any field order) appends fine
    Seq(("x", "g", "h")).toDF("w", "k", "v").select("k", "v", "w")
      .write.format("graft").mode("append").option("sortKeys", "k").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 3)

    // overwrite replaces the store, so a new column set is legitimate
    Seq(("1", "2")).toDF("k", "z")
      .write.format("graft").mode("overwrite").option("sortKeys", "k").save(dir)
    val replaced = spark.read.format("graft").load(dir)
    assert(replaced.schema.fieldNames.sorted.toSeq == Seq("k", "z"))
    assert(replaced.count() == 1)
  }

  test("append addressed by the blocks dir extends in place, never nests") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-blocksaddr").toString
    Seq(("a", "1"), ("b", "2")).toDF("k", "v")
      .write.format("graft").mode("overwrite").option("sortKeys", "k").save(dir)
    val blocksDir = s"$dir/blocks"
    // readers accept the blocks dir as the path — the writer must resolve
    // it the same way instead of nesting a second store at blocks/blocks
    // (which would win later resolution and hide every pre-existing row)
    Seq(("c", "3")).toDF("k", "v")
      .write.format("graft").mode("append").option("sortKeys", "k").save(blocksDir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$blocksDir/blocks")),
      "append via the blocks dir must not nest a second store")
    assert(spark.read.format("graft").load(dir).count() == 3)
    assert(spark.read.format("graft").load(blocksDir).count() == 3)
    // the store-root markers were retracted, not a phantom nested set
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/complete.txt")))
  }

  test("user-supplied schema with a column the store lacks refuses loudly") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val e = intercept[Exception] {
      spark.read.format("graft")
        .schema(StructType(Seq(StructField("doc_id_s", StringType),
          StructField("naem", StringType)))) // typo for a real column
        .load(store)
        .count()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("naem") && msg.contains("do not exist"),
      s"ghost column must refuse, not serve all-nulls: $msg")
    // a correct user-supplied subset still reads fine
    val ok = spark.read.format("graft")
      .schema(StructType(Seq(StructField("doc_id_s", StringType))))
      .load(store)
    assert(ok.count() == 4000)
  }

  test("top-N early stop is dropped when an append lands after the push") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-topnrace").toString
    (0 until 400).map(i => (f"k$i%03d", s"v$i")).toDF("k", "v")
      .write.format("graft").mode("overwrite")
      .option("sortKeys", "k").option("numPartitions", "2").save(dir)
    val schema = spark.read.format("graft").load(dir).schema
    val keys = graft.engine.StoreMeta.readSortKeys(
      spark.sparkContext.hadoopConfiguration,
      GraftDataSource.blocksDir(dir).toString)
    assert(keys.nonEmpty, "test premise: overwrite recorded the sort keys")
    // scan built as pushTopN would build it: limit + the marker snapshot
    val sorted = GraftScan(dir, schema, Nil, limit = 5, topNKeys = keys)
    assert(sorted.createReaderFactory().asInstanceOf[GraftReaderFactory]
      .limit == 5, "valid top-N keeps the early stop")
    // an append between push-time and scan-time retracts the marker and
    // adds a second file: the early stop must be dropped (readers emit
    // everything; Spark's partial-push sort+limit stays correct)
    Seq(("a0", "x")).toDF("k", "v")
      .write.format("graft").mode("append").option("sortKeys", "k").save(dir)
    val raced = GraftScan(dir, schema, Nil, limit = 5, topNKeys = keys)
    assert(raced.createReaderFactory().asInstanceOf[GraftReaderFactory]
      .limit == -1, "stale top-N conditions must drop the early stop")
    // plain LIMIT (no ordering claim) survives any file set
    val plain = GraftScan(dir, schema, Nil, limit = 5)
    assert(plain.createReaderFactory().asInstanceOf[GraftReaderFactory]
      .limit == 5)
  }
}
