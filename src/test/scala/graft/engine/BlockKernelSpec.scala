package graft.engine

import graft.model.{EncodedBlock, ManifestEntry}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One block-encode kernel and one block-file writer behind every path:
  * Encoder.encode, the DSv2 batch write, the streaming sink and
  * Checkpoint must produce the same block bytes for the same sorted
  * partition; Checkpoint's staged publish must commit exactly the manifest
  * the block files on disk describe.
  */
class BlockKernelSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-block-kernel-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def readBlocks(blocksDir: String): Array[EncodedBlock] =
    spark.read.parquet(blocksDir).as(Encoders.product[EncodedBlock]).collect()

  /** comparable form of a block: every field, payload by value */
  private def canon(bs: Array[EncodedBlock]) =
    bs.map(b => (b.colName, b.partId, b.blockIdx, b.codecId, b.wrapId, b.rowCount,
      b.rawBytes, b.encodedBytes, b.minPrefix, b.maxPrefix, b.data.toSeq))
      .sortBy(t => (t._1, t._3)).toSeq

  test("one kernel: every writer stores byte-identical blocks for one sorted partition") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // more rows than the default 65536-row block: the second block is
    // encoded under the plan and FSST table the first one fixed
    val n = 70000
    val rows = (0 until n).map(i => (f"k$i%06d", s"g${i % 5}",
      s"def f$i(x):\n    return x * ${i % 13} + ${i % 7}  # note ${i % 97}"))
    val df = rows.toDF("k", "g", "t")
    val cols = Seq("k", "g", "t")
    val cfg = Encoder.EncodeConfig(numPartitions = 1)

    val viaEncoder = Encoder.encode(df, cols, Seq("k"), cfg).collect()

    val batchDir = tmpDir("graft-kernel-batch")
    df.write.format("graft").option("sortKeys", "k").option("numPartitions", "1")
      .mode("overwrite").save(batchDir)
    val viaBatch = readBlocks(s"$batchDir/blocks")

    val streamDir = tmpDir("graft-kernel-stream")
    implicit val sc = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, String)]
    val q = input.toDS().toDF("k", "g", "t").writeStream.format("graft")
      .option("sortKeys", "k").option("numPartitions", "1")
      .option("checkpointLocation", s"$streamDir/ckpt")
      .outputMode("append").start(s"$streamDir/store")
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
    } finally q.stop()
    val viaStream = readBlocks(s"$streamDir/store/blocks")

    val ckptDir = tmpDir("graft-kernel-ckpt")
    Checkpoint.encodeResumable(df, cols, Seq("k"), cfg, ckptDir, "kernel")
    val viaCheckpoint = readBlocks(Checkpoint.blocksDir(ckptDir))

    val want = canon(viaEncoder)
    assert(want.count(_._1 == "t") == 2, "fixture must span two blocks per column")
    assert(canon(viaBatch) == want, "DSv2 batch write")
    assert(canon(viaStream) == want, "streaming sink")
    assert(canon(viaCheckpoint) == want, "Checkpoint.encodeResumable")
  }

  private val cols = Seq("repo", "path", "content")
  private val keys = Seq("repo", "path")
  private def cfg = Encoder.EncodeConfig(numPartitions = 8, blockRows = 64)

  private def sampleDf: DataFrame = {
    import spark.implicits._
    (0 until 3000).map(i => (s"r${i % 23}", s"p$i", s"content of file $i " + ("y" * (i % 40))))
      .toDF("repo", "path", "content")
  }

  /** reference: the manifest as a groupBy over the block files on disk */
  private def derivedManifest(dir: String): Set[ManifestEntry] =
    spark.read.parquet(Checkpoint.blocksDir(dir))
      .groupBy(col("partId"), col("colName"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("codecId")))).as("codecIds"),
        count(lit(1)).as("nBlocks"),
        sum(col("rowCount")).as("rowCount"),
        sum(col("rawBytes")).as("rawBytes"),
        sum(col("encodedBytes")).as("encodedBytes"))
      .withColumn("fingerprint", lit(""))
      .as(Encoders.product[ManifestEntry])
      .collect().toSet

  private def committedManifest(dir: String): Set[ManifestEntry] = {
    val m = Checkpoint.readManifest(spark, dir).collect()
    assert(m.map(_.fingerprint).distinct.length <= 1, "one run fingerprint")
    m.map(_.copy(fingerprint = "")).toSet
  }

  test("staged publish: manifest and result equal the block files on disk, fresh and resumed") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tmpDir("graft-kernel-manifest")
    val df = sampleDf.cache()
    val r1 = Checkpoint.encodeResumable(df, cols, keys, cfg, dir, "fp-m")
    val m1 = committedManifest(dir)
    assert(m1.nonEmpty && m1 == derivedManifest(dir))
    assert(m1.exists(_.nBlocks > 1), "fixture must span several blocks per partition")
    assert(r1.rowCount == 3000 && r1.completedParts == m1.map(_.partId).size)
    assert(r1.rawBytes == m1.toSeq.map(_.rawBytes).sum)
    assert(r1.encodedBytes == m1.toSeq.map(_.encodedBytes).sum)

    // crash that lost some partitions: their block dirs and entries are
    // gone, so the resume merges kept entries with freshly staged ones
    val full = Checkpoint.readManifest(spark, dir).collect()
    val keep = full.map(_.partId).distinct.sorted.take(2).toSet
    full.map(_.partId).distinct.filterNot(keep).foreach(pid =>
      fs.delete(new Path(s"${Checkpoint.blocksDir(dir)}/partId=$pid"), true))
    val tmp = s"$dir/manifest-rewrite"
    spark.createDataset(full.filter(e => keep(e.partId)).toSeq)(
      Encoders.product[ManifestEntry]).write.mode("overwrite").parquet(tmp)
    fs.delete(new Path(Checkpoint.manifestDir(dir)), true)
    fs.rename(new Path(tmp), new Path(Checkpoint.manifestDir(dir)))
    fs.delete(new Path(Checkpoint.completeFile(dir)), false)

    val r2 = Checkpoint.encodeResumable(df, cols, keys, cfg, dir, "fp-m")
    assert(r2.skippedParts == keep.size)
    val m2 = committedManifest(dir)
    assert(m2 == derivedManifest(dir))
    assert(m2 == m1, "re-encoded partitions tally exactly as before")
    assert(r2.rowCount == r1.rowCount && r2.encodedBytes == r1.encodedBytes &&
      r2.completedParts == r1.completedParts)
    df.unpersist()
  }

  test("staged publish: a crashed run's staging dir is swept on resume and never counted") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tmpDir("graft-kernel-staging")
    val df = sampleDf
    val r1 = Checkpoint.encodeResumable(df, cols, keys, cfg, dir, "fp-s")
    // crash state: a run staged a real block file (a copy of a committed
    // one) but died before publishing — no manifest, no completeness claim,
    // the in-progress marker left behind
    val blocks = new Path(Checkpoint.blocksDir(dir))
    val victim = fs.listStatus(blocks).filter(_.getPath.getName.startsWith("partId="))
      .flatMap(st => fs.listStatus(st.getPath)).find(_.getPath.getName.endsWith(".parquet")).get
    val staging = new Path(blocks, "_staging-crashedrun0")
    org.apache.hadoop.fs.FileUtil.copy(fs, victim.getPath, fs,
      new Path(staging, "part-crashedrun0-0-7.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(Checkpoint.manifestDir(dir)), true)
    fs.delete(new Path(Checkpoint.completeFile(dir)), false)
    val marker = new Path(Checkpoint.inProgressFile(dir))
    val out = fs.create(marker, true)
    try out.write("crashed".getBytes("UTF-8")) finally out.close()

    val r2 = Checkpoint.encodeResumable(df, cols, keys, cfg, dir, "fp-s")
    assert(!fs.exists(staging), "crashed run's staging dir must be swept")
    assert(fs.listStatus(blocks).forall(!_.getPath.getName.startsWith("_staging-")),
      "this run's own staging dir must be gone after publish")
    assert(r2.rowCount == 3000 && r2.encodedBytes == r1.encodedBytes)
    assert(spark.read.format("graft").load(dir).count() == 3000)
    assert(!fs.exists(marker))
  }

  test("fingerprint is pinned, so existing stores keep resuming") {
    // sha256 of fp|repo,path,content|repo,path|8|64|33554432|0.5|3|v3
    assert(Checkpoint.fingerprint("fp", Seq("repo", "path", "content"), Seq("repo", "path"),
      Encoder.EncodeConfig(numPartitions = 8, blockRows = 64)) ==
      "11aa0b80cc9d6a7119c99617167374b984ca6a3d21ec093cb2fc875e65e91174")
  }

  test("DSv2 writer refuses non-string columns before any task runs") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val dir = tmpDir("graft-kernel-nonstring")
    val e = intercept[Exception] {
      Seq(("a", 1), ("b", 2)).toDF("k", "n").write.format("graft")
        .option("sortKeys", "k").mode("overwrite").save(dir)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("string columns only") && msgs.contains("n int"), msgs)
    val blocks = new Path(s"$dir/blocks")
    assert(!fs.exists(blocks) ||
      fs.listStatus(blocks).forall(!_.getPath.getName.startsWith("partId=")),
      "nothing may be published")
  }
}
