package graft.tools

import graft.engine.{Checkpoint, Decoder, Encoder}
import graft.gen.DataGen
import graft.model.EncodedBlock
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end drive of the engine through its public API: synthesize the
  * source-code table → resumable encode to disk → read blocks back →
  * decode → verify per-row sha256 bit-identity + report codec/size metrics;
  * then encode again into the same outDir, which must resume every
  * partition (skipped == completed, same totals) and still decode
  * bit-identically.
  *
  * Usage: sbt "runMain graft.tools.E2eDrive [rows] [outDir]"
  */
object E2eDrive {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 20000L
    val outDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-e2e")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cols = Seq("repo", "path", "commit", "lang", "content")
    val sortKeys = Seq("repo", "path", "commit")
    val cfg = Encoder.EncodeConfig(numPartitions = 16)

    val df = DataGen.table(spark, DataGen.GenConfig(rows = rows)).toDF()
    def encode(label: String): Checkpoint.EncodeResult = {
      val res = Checkpoint.encodeResumable(df, cols, sortKeys, cfg, outDir,
        inputFingerprint = s"gen:seed=42:rows=$rows")
      println(s"[e2e] $label encode: parts=${res.completedParts} skipped=${res.skippedParts} " +
        s"rows=${res.rowCount} raw=${res.rawBytes} encoded=${res.encodedBytes} " +
        f"ratio=${res.rawBytes.toDouble / math.max(1, res.encodedBytes)}%.2fx")
      res
    }

    /** decode the store on disk and compare per-row sha256 multisets */
    def roundTrips(label: String): Boolean = {
      val blocks = spark.read.parquet(Checkpoint.blocksDir(outDir))
        .as(Encoders.product[EncodedBlock])
      val decoded = Decoder.decode(blocks, cols)
      val mismatches = graft.verify.Sha256Check.mismatchGroups(df, decoded, cols)
      val nDecoded = decoded.count()
      println(s"[e2e] $label decoded rows=$nDecoded expected=$rows sha-mismatch-groups=$mismatches")
      val ok = nDecoded == rows && mismatches == 0
      if (ok) println(s"[e2e] PASS: bit-identical round-trip ($label)")
      ok
    }

    val fresh = encode("fresh")
    Checkpoint.readManifest(spark, outDir)
      .groupBy("colName", "codecIds")
      .agg(sum("rawBytes").as("raw"), sum("encodedBytes").as("enc"),
        sum("rowCount").as("rows"))
      .orderBy("colName")
      .show(50, truncate = false)
    val freshOk = roundTrips("fresh")

    val resumed = encode("resumed")
    // a full resume skips every partition and reports the same totals
    val resumeOk = resumed == fresh.copy(skippedParts = fresh.completedParts)
    if (!resumeOk) println(s"[e2e] resumed run differs: fresh=$fresh resumed=$resumed")
    val resumedOk = roundTrips("resumed")

    if (freshOk && resumeOk && resumedOk) println("[e2e] PASS: fresh and resumed")
    else { println("[e2e] FAIL"); sys.exit(1) }
    spark.stop()
  }
}
