package graft.engine

import graft.codec.PlainCodec
import graft.datasource.{GraftReaderFactory, GraftScan}
import graft.gen.DataGen
import graft.model.{EncodedBlock, WrapId}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** One block-group decode kernel behind every decode entry point: the same
  * encoded table must come back as the same sha256 multiset through
  * `Decoder.decode`, `Decoder.decodeWhereEq` and the DSv2 readers, and a
  * corrupt group (a missing column block, columns disagreeing on rowCount,
  * a flipped payload byte) must fail naming the group on every path.
  */
class DecodeKernelSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("graft-decode-kernel-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cols = Seq("repo", "path", "commit", "lang", "content")
  private val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))

  // two crafted rows sort last in their partition, so their block's max
  // path is `cutMax`, whose astral char at index 23 makes the stored
  // maxPrefix a 23-char cut; `cutMatch` (24 chars) is below cutMax but
  // above that cut — a naive prefix comparison would prune its block
  private val astral = new String(Character.toChars(0x1F600))
  private val cutMatch = "z" * 23 + "b"
  private val cutMax = "z" * 23 + astral + "tail"

  private lazy val table: DataFrame = {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val crafted = Seq(
      ("zz/cut", cutMatch, "c-1", "scala", "body-1"),
      ("zz/cut", cutMax, "c-2", "scala", "body-2")).toDF(cols: _*)
    DataGen.table(spark, DataGen.GenConfig(rows = 3000, parts = 4)).toDF()
      .select(cols.map(col): _*).union(crafted).cache()
  }

  private lazy val blocks: Seq[EncodedBlock] =
    Encoder.encode(table, cols, Seq("repo", "path", "commit"),
      Encoder.EncodeConfig(numPartitions = 4, blockRows = 256)).collect().toSeq

  private def dataset(bs: Seq[EncodedBlock]) =
    spark.createDataset(bs)(Encoders.product[EncodedBlock])

  /** a graft store holding exactly `bs`, one block file per partition */
  private def writeStore(bs: Seq[EncodedBlock]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-kernel").toString
    val blocksDir = new Path(dir, "blocks")
    bs.groupBy(_.partId).foreach { case (p, pbs) =>
      val w = new BlockParquet.Writer(new Path(blocksDir, s"partId=$p/part-0.parquet"))
      pbs.sortBy(b => (b.blockIdx, b.colName)).foreach(w.write)
      w.close()
    }
    StoreMeta.writeFormatMarker(new Configuration(), blocksDir.toString)
    dir
  }

  private def digest(vals: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    vals.foreach { v =>
      if (v == null) md.update(0.toByte)
      else {
        md.update(1.toByte)
        md.update(java.nio.ByteBuffer.allocate(4).putInt(v.length).array())
        md.update(v)
      }
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def multiset(ds: Iterator[String]): Map[String, Int] =
    ds.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }

  private def ofFrame(df: DataFrame): Map[String, Int] =
    multiset(df.select(cols.map(col): _*).collect().iterator.map { r =>
      digest(cols.indices.map(i =>
        if (r.isNullAt(i)) null else r.getString(i).getBytes("UTF-8")))
    })

  private def ofRow(r: InternalRow): String =
    digest(cols.indices.map(i => if (r.isNullAt(i)) null else r.getUTF8String(i).getBytes))

  /** every row of a store through the factory's row or columnar reader */
  private def ofReaders(store: String, columnar: Boolean): Map[String, Int] = {
    val scan = GraftScan(store, schema, Nil)
    val factory = scan.createReaderFactory().asInstanceOf[GraftReaderFactory]
    val out = Seq.newBuilder[String]
    scan.planInputPartitions().foreach { p =>
      if (columnar) {
        val r = factory.createColumnarReader(p)
        try while (r.next()) {
          val it = r.get().rowIterator()
          while (it.hasNext) out += ofRow(it.next())
        } finally r.close()
      } else {
        val r = factory.createReader(p)
        try while (r.next()) out += ofRow(r.get()) finally r.close()
      }
    }
    multiset(out.result().iterator)
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("every decode path returns the same sha256 multiset") {
    val expected = ofFrame(table)
    assert(expected.values.sum == 3002)
    assert(ofFrame(Decoder.decode(dataset(blocks), cols)) == expected, "Decoder.decode")

    // precondition for the cut leg: cutMatch's path block stores the 23-char cut
    val cutPart = blocks.find(b => b.colName == "path" && b.maxPrefix != null &&
      b.maxPrefix.startsWith("z" * 23)).get
    assert(cutPart.maxPrefix == "z" * 23, s"expected a 23-char cut: ${cutPart.maxPrefix}")
    for ((k, v, n) <- Seq(("lang", "scala", -1), ("lang", "no-such-lang", 0),
        ("path", cutMatch, 1))) {
      val want = ofFrame(table.where(col(k) === v))
      if (n >= 0) assert(want.values.sum == n, s"$k=$v")
      assert(ofFrame(Decoder.decodeWhereEq(dataset(blocks), cols, k, v)) == want,
        s"decodeWhereEq $k=$v")
    }

    val store = writeStore(blocks)
    assert(ofFrame(spark.read.format("graft").load(store)) == expected, "DSv2 scan")
    assert(ofReaders(store, columnar = false) == expected, "DSv2 row reader")
    assert(ofReaders(store, columnar = true) == expected, "DSv2 columnar reader")
  }

  test("decodeWhereEq is one co-location pass: no join, one shuffle") {
    val q = Decoder.decodeWhereEq(dataset(blocks), cols, "lang", "scala")
    q.collect()
    // AQE-aware walk of the executed plan: no join and no exchange in the
    // frame's own plan; the lineage holds exactly the co-location shuffle
    val plan = q.queryExecution.executedPlan
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val joinsOrExchanges = helper.collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(joinsOrExchanges.isEmpty, plan.toString)
    def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Int = rdd.dependencies.map {
      case s: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffles(s.rdd)
      case d => shuffles(d.rdd)
    }.sum
    assert(shuffles(q.queryExecution.toRdd) == 1, q.queryExecution.toRdd.toDebugString)
  }

  // one group (the first with a zstd-wrapped content block), corrupted three ways
  private lazy val victim =
    blocks.find(b => b.colName == "content" && b.wrapId == WrapId.Zstd).get
  private def inVictim(b: EncodedBlock) =
    b.partId == victim.partId && b.blockIdx == victim.blockIdx
  private lazy val corruptions: Map[String, Seq[EncodedBlock]] = {
    val lang = blocks.find(b => inVictim(b) && b.colName == "lang").get
    val shortLang = BlockCodec.encodeBlock("lang", lang.partId, lang.blockIdx,
      BlockCodec.decodeBlock(lang).init, PlainCodec)
    // first byte of the zstd frame magic, after the filter header and length
    val flipped = {
      val d = victim.data.clone()
      val at = d.indices.find(j => j + 3 < d.length && d(j) == 0x28.toByte &&
        d(j + 1) == 0xb5.toByte && d(j + 2) == 0x2f.toByte && d(j + 3) == 0xfd.toByte).get
      d(at) = (d(at) ^ 0x01).toByte
      victim.copy(data = d)
    }
    Map(
      "missing column block" -> blocks.filterNot(b => inVictim(b) && b.colName == "lang"),
      "rowCount disagreement" -> blocks.map(b => if (b eq lang) shortLang else b),
      "flipped payload byte" -> blocks.map(b => if (b eq victim) flipped else b))
  }
  private def named =
    s"undecodable block group (partId=${victim.partId}, blockIdx=${victim.blockIdx}"

  for (label <- Seq("missing column block", "rowCount disagreement", "flipped payload byte")) {
    test(s"$label: Decoder.decode fails naming the group; SKIP drops exactly it") {
      val bad = dataset(corruptions(label))
      val e = intercept[SparkException] {
        Decoder.decode(bad, cols, Decoder.ErrorOnBadBlocks).count()
      }
      assert(messages(e).contains(named + ")"), messages(e))
      assert(Decoder.decode(bad, cols, Decoder.SkipBadBlocks).count() ==
        3002 - victim.rowCount)
    }

    test(s"$label: a DSv2 read fails naming the group") {
      val store = writeStore(corruptions(label))
      val e = intercept[SparkException] {
        spark.read.format("graft").load(store).collect()
      }
      assert(messages(e).contains(named + ", file="), messages(e))
    }
  }
}
