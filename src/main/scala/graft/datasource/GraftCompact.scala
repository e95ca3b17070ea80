package graft.datasource

import graft.engine.BlockParquet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession

/** Small-file compaction for a graft block store.
  *
  * Streaming appends (`writeStream` → foreachBatch encode, or repeated
  * `mode("append")` DSv2 writes) land one parquet file per micro-batch per
  * partition directory. At 100 TB that accretes into thousands of small
  * files per partition: every scan pays per-file open/footer costs, and
  * object-store listings dominate planning. Compaction rewrites each
  * `blocks/partId=N/` directory's files into ONE file, copying every
  * encoded block byte-for-byte (blocks are immutable — no re-encode, no
  * decompression) and re-stamping `blockIdx` so the single file keeps the
  * strictly-increasing-runs invariant the reader's group cursor checks.
  *
  * Runs DISTRIBUTED: one task per partition directory; the driver only
  * lists partition dirs and collects the per-partition report.
  *
  * Concurrency contract: OFFLINE with respect to writers and readers of
  * the same store (the posture of Hive/Iceberg file rewrites). Within that
  * contract it is crash-safe via a per-partition journal
  * (`_compact.json`, written temp-then-rename like Checkpoint's manifest):
  *   1. journal records the deterministic output name + the input files;
  *   2. data is written to an `.inprogress` name (never listed by readers,
  *      which match only `*.parquet`) and renamed into place;
  *   3. inputs are deleted, then the journal.
  * A crash between 2 and 3 leaves both old and new files on disk — the
  * READER detects the journal and fails loudly instead of double-counting
  * (GraftScan.planInputPartitions / the streaming file lister), and
  * `recover()` — also run automatically at the start of every compaction —
  * rolls the partition forward (new file complete: finish the deletes) or
  * back (no new file: drop the partial and the journal).
  */
object GraftCompact {

  val JournalName = "_compact.json"

  /** Per-query high-water marks of streaming epochs whose markers were
    * swept by compaction: `{"<qTag>": maxEpoch}` in the blocks dir. A sink
    * epoch without a marker at or below its query's mark is a REPLAY of a
    * compacted epoch (its files were merged away) — the sink refuses it
    * loudly instead of re-publishing duplicate rows. Without the sweep,
    * `_epoch-*` markers accumulate one per epoch forever and planning-time
    * listings stay O(total epochs ever) even right after a compaction.
    */
  val EpochTombstone = "_epochs-compacted.json"
  private val EpochMarkerRe = "_epoch-q([0-9a-fA-F]+)-e(\\d+)\\.json".r

  /** the swept high-water mark for a sink query, if any */
  def compactedEpochMax(conf: Configuration, blocksDir: Path, qTag: String): Option[Long] = {
    val f = new Path(blocksDir, EpochTombstone)
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) return None
    try {
      val in = fs.open(f)
      val root = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        finally in.close()
      Option(root.get(qTag)).map(_.asLong())
    } catch { case _: Exception => None }
  }

  /** record per-query max epochs into the tombstone (max-merged with any
    * existing one, temp-then-rename), then delete the swept markers —
    * markers that don't parse are left alone rather than silently dropped
    */
  private def sweepEpochMarkers(conf: Configuration, blocksDir: Path): Unit = {
    val fs = blocksDir.getFileSystem(conf)
    val parsed = fs.listStatus(blocksDir).map(_.getPath)
      .flatMap(p => p.getName match {
        case EpochMarkerRe(tag, epoch) => Some((p, tag, epoch.toLong))
        case _ => None
      })
    if (parsed.isEmpty) return
    val maxes = scala.collection.mutable.HashMap.empty[String, Long]
    parsed.foreach { case (_, tag, e) =>
      maxes(tag) = math.max(e, maxes.getOrElse(tag, Long.MinValue))
    }
    val f = new Path(blocksDir, EpochTombstone)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    if (fs.exists(f)) {
      try {
        val in = fs.open(f)
        val root = try mapper.readTree(in) finally in.close()
        root.fieldNames().forEachRemaining { tag =>
          val old = root.get(tag).asLong()
          maxes(tag) = math.max(old, maxes.getOrElse(tag, Long.MinValue))
        }
      } catch { case _: Exception => /* rewrite from the markers we have */ }
    }
    val out = mapper.createObjectNode()
    maxes.toSeq.sortBy(_._1).foreach { case (tag, e) => out.put(tag, e) }
    val tmp = new Path(blocksDir, EpochTombstone + ".tmp")
    val os = fs.create(tmp, true)
    try os.write(mapper.writeValueAsBytes(out)) finally os.close()
    if (fs.exists(f)) fs.delete(f, false)
    if (!fs.rename(tmp, f))
      throw new java.io.IOException(s"epoch tombstone rename failed in $blocksDir")
    // markers die only AFTER the tombstone covers them: a crash mid-sweep
    // leaves some markers behind (harmless — the next sweep re-merges)
    parsed.foreach { case (p, _, _) => fs.delete(p, false) }
  }

  final case class PartReport(
      partId: Int, filesBefore: Int, filesAfter: Int,
      bytesBefore: Long, bytesAfter: Long, blockGroups: Int)

  /** compact every multi-file partition of the store; returns one report
    * row per partition (skipped single-file partitions report unchanged
    * counts)
    */
  def compactStore(spark: SparkSession, storePath: String): Seq[PartReport] = {
    val dir = GraftDataSource.blocksDir(storePath)
    graft.engine.StoreMeta.checkFormat(
      spark.sparkContext.hadoopConfiguration, dir.toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partDirs = fs.listStatus(dir)
      .filter(_.getPath.getName.startsWith("partId="))
      .map(_.getPath.toString)
      .sorted
    // a merged partition concatenates per-file sorted runs, so any store-
    // level ordering claim dies — cleared BEFORE any rewrite starts, so a
    // mid-compaction crash can never leave a false claim behind
    if (partDirs.exists(p =>
        fs.listStatus(new Path(p)).count(_.getPath.getName.endsWith(".parquet")) > 1))
      graft.engine.StoreMeta.clearSortKeys(
        spark.sparkContext.hadoopConfiguration, dir.toString)
    val reports = spark.sparkContext
      .parallelize(partDirs.toIndexedSeq, math.max(1, partDirs.length))
      .map(compactPartition)
      .collect()
      .toIndexedSeq
    // every partition rewrote successfully: fold the streaming epoch
    // markers into the tombstone and sweep them, so listings shrink to
    // O(files) again (the whole point of compacting) and a replay of a
    // merged epoch refuses via the tombstone instead of re-publishing.
    // Sweep ONLY when something actually merged: a no-op compaction
    // (every partition already single-file) leaves each epoch's published
    // files intact, so a replay of those epochs must keep hitting the
    // sink's dest-exists dedup rather than a hard "was compacted" refusal.
    if (reports.exists(r => r.filesAfter < r.filesBefore))
      sweepEpochMarkers(spark.sparkContext.hadoopConfiguration, dir)
    reports
  }

  /** roll an interrupted compaction forward or back in every partition */
  def recover(spark: SparkSession, storePath: String): Unit = {
    val dir = GraftDataSource.blocksDir(storePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir)
      .filter(_.getPath.getName.startsWith("partId="))
      .foreach(st =>
        recoverPartition(st.getPath, spark.sparkContext.hadoopConfiguration))
  }

  private def compactPartition(partDir: String): PartReport = {
    val conf = new Configuration()
    val dir = new Path(partDir)
    val fs = dir.getFileSystem(conf)
    val partId = dir.getName.stripPrefix("partId=").toInt
    recoverPartition(dir, conf)

    val files = fs.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val bytesBefore = files.map(_.getLen).sum
    if (files.length <= 1)
      return PartReport(partId, files.length, files.length, bytesBefore, bytesBefore, 0)

    // deterministic output name (idempotent retries overwrite the same
    // in-progress path). The 32-bit name hash CAN collide with a PRIOR
    // compaction's output now sitting among the inputs — publishing onto an
    // input would make the input sweep (or a recovery roll-forward) delete
    // the only copy of its rows — so extend the tag until it clears the
    // input set (still a pure function of the inputs, so retries agree)
    var tag = Integer.toHexString(
      java.util.Arrays.hashCode(files.map(_.getPath.getName.hashCode)))
    val inputNames = files.map(_.getPath.getName).toSet
    while (inputNames.contains(s"part-compact-$tag.parquet")) tag += "x"
    val outFile = new Path(dir, s"part-compact-$tag.parquet")
    val inProgress = new Path(dir, s"part-compact-$tag.inprogress")

    // 1. journal first (temp-then-rename): from here on, readers refuse the
    //    partition until the journal is gone — no window where old+new
    //    could both be counted
    val journal = new Path(dir, JournalName)
    val journalTmp = new Path(dir, JournalName + ".tmp")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("newFile", outFile.getName)
    val arr = root.putArray("oldFiles")
    files.foreach(f => arr.add(f.getPath.getName))
    val out = fs.create(journalTmp, true)
    out.write(mapper.writeValueAsBytes(root))
    out.close()
    if (!fs.rename(journalTmp, journal))
      throw new java.io.IOException(s"journal rename failed in $dir")

    // 2. stream-copy block rows, re-stamping blockIdx across files
    if (fs.exists(inProgress)) fs.delete(inProgress, false)
    val writer = new BlockParquet.Writer(inProgress)
    var groups = 0
    try {
      var nextIdx = -1
      files.foreach { f =>
        val reader = ParquetReader
          .builder(new GroupReadSupport(), f.getPath)
          .withConf(new Configuration()) // no projection: full rows
          .build()
        try {
          var lastInThisFile = Int.MinValue
          var g = reader.read()
          while (g != null) {
            val idx = g.getInteger("blockIdx", 0)
            if (idx != lastInThisFile) {
              if (idx < lastInThisFile)
                throw new IllegalStateException(
                  s"block rows out of order in ${f.getPath} (blockIdx $idx after $lastInThisFile)")
              lastInThisFile = idx
              nextIdx += 1
              groups += 1
            }
            writer.writeGroup(BlockParquet.copyGroup(g, nextIdx))
            g = reader.read()
          }
        } finally reader.close()
      }
    } finally writer.close()

    // 3. publish, sweep inputs, drop the journal
    if (!fs.rename(inProgress, outFile))
      throw new java.io.IOException(s"compact rename failed: $inProgress -> $outFile")
    files.foreach(f => fs.delete(f.getPath, false))
    fs.delete(journal, false)

    val bytesAfter = fs.getFileStatus(outFile).getLen
    PartReport(partId, files.length, 1, bytesBefore, bytesAfter, groups)
  }

  /** journal present → either finish (new file complete) or roll back */
  private def recoverPartition(dir: Path, conf: Configuration): Unit = {
    val fs = dir.getFileSystem(conf)
    val journal = new Path(dir, JournalName)
    fs.delete(new Path(dir, JournalName + ".tmp"), false)
    if (!fs.exists(journal)) return
    val in = fs.open(journal)
    val root = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    val newFile = new Path(dir, root.get("newFile").asText())
    if (fs.exists(newFile)) {
      // forward: the compacted file was published; inputs may linger
      val olds = root.get("oldFiles")
      (0 until olds.size()).foreach { i =>
        fs.delete(new Path(dir, olds.get(i).asText()), false)
      }
    } else {
      // back: nothing published; drop any partial
      fs.listStatus(dir)
        .filter(_.getPath.getName.endsWith(".inprogress"))
        .foreach(st => fs.delete(st.getPath, false))
    }
    fs.delete(journal, false)
    ()
  }
}
