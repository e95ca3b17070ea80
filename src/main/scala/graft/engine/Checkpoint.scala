package graft.engine

import graft.model.ManifestEntry
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}

/** Checkpointed per-partition lineage + codec/size metrics, giving encode
  * resumability: a partition whose manifest entry exists under the current
  * run fingerprint is skipped on re-run; stale partial output is cleaned.
  *
  * Publish protocol (BlockParquet's staged rename, as in the DSv2
  * writers): each task runs the BlockAccumulator kernel over its sorted
  * partition, writes ONE file under `blocks/_staging-<run>/` and returns a
  * per-column tally; the driver renames the reported files into
  * `blocks/partId=N/` and commits the manifest from those tallies plus the
  * kept entries of completed partitions. The EncodeResult comes from the
  * same rows — no block file is read back. The manifest commit is atomic
  * via temp-dir-then-rename — the same pattern the reference uses for
  * every task output (write temp file, then putFile: reference
  * csv/CsvToIon.java:175,269).
  */
object Checkpoint {

  def blocksDir(outDir: String) = s"$outDir/blocks"
  // no leading underscore: Spark's hidden-path filter skips `_*` when listing
  def manifestDir(outDir: String) = s"$outDir/manifest"
  def skewPlanFile(outDir: String) = s"$outDir/skewplan.txt"
  /** present while a resumable encode may have left partial block output —
    * its ABSENCE next to committed blocks with no manifest means the store
    * was published by someone else (DSv2 write/append deletes the manifest
    * by contract), and encodeResumable must refuse rather than clean
    */
  def inProgressFile(outDir: String) = s"$outDir/encode-inprogress.txt"
  /** written (with the run fingerprint) only after the manifest commit —
    * the exact fully-resumed signal; the manifest alone can't provide it
    * because empty hash partitions emit no blocks and so no entries
    */
  def completeFile(outDir: String) = s"$outDir/complete.txt"

  final case class EncodeResult(
      completedParts: Int,
      skippedParts: Int,
      rowCount: Long,
      rawBytes: Long,
      encodedBytes: Long)

  def readManifest(spark: SparkSession, outDir: String): Dataset[ManifestEntry] = {
    StoreMeta.checkFormat(spark.sparkContext.hadoopConfiguration, blocksDir(outDir))
    spark.read.parquet(manifestDir(outDir)).as(Encoders.product[ManifestEntry])
  }

  private def exists(spark: SparkSession, file: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(file)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Encode `cols` of `df` to `outDir/blocks` (hive-partitioned by partId),
    * resuming past any partitions already committed in the manifest with a
    * matching fingerprint. `inputFingerprint` must identify input + plan
    * version, so a changed input or config invalidates prior work.
    */
  def encodeResumable(
      df: DataFrame,
      cols: Seq[String],
      sortKeys: Seq[String],
      cfg: Encoder.EncodeConfig,
      outDir: String,
      inputFingerprint: String): EncodeResult = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val baseFp = fingerprint(inputFingerprint, cols, sortKeys, cfg)

    // format gate FIRST — before the skew-plan write and before the
    // destructive cleanUncommitted below, so a store written under another
    // block layout is refused loudly while its blocks still exist (cleaning
    // first would delete the evidence and then vacuously "pass")
    StoreMeta.checkFormat(conf, blocksDir(outDir))

    // Committed blocks with NO manifest are not crash debris: a DSv2
    // write/append deletes the Checkpoint manifest by contract, so the data
    // under partId= dirs may be the ONLY copy of appended rows. Our own
    // crashed runs are distinguishable — they leave the in-progress marker.
    if (!exists(spark, manifestDir(outDir)) && !exists(spark, inProgressFile(outDir)) &&
        hasCommittedBlocks(spark, outDir))
      throw new IllegalStateException(
        s"$outDir has block files but no Checkpoint manifest — it was " +
          "written or appended by the DSv2 writer, and re-encoding over it " +
          "would silently destroy those rows. Encode into a fresh directory " +
          "(or read the store and rewrite it) instead")

    // The skew plan is sampled, so it is NOT a pure function of (row, cfg) —
    // a resumed run could derive a different row→partition mapping and mix
    // old-mapping and new-mapping partitions. Persist the plan on first run
    // and replay it verbatim on resume; fold it into the manifest
    // fingerprint so entries from a different plan never match.
    val skew = loadOrComputeSkewPlan(spark, df, sortKeys.head, cfg, outDir, baseFp)
    val fp = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val canon = skew.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
      md.digest(s"$baseFp|skew:$canon".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }

    val existing: Seq[ManifestEntry] =
      if (!exists(spark, manifestDir(outDir))) Nil
      else readManifest(spark, outDir).collect().toSeq
    val kept = existing.filter(_.fingerprint == fp)
    val completed: Set[Int] = kept.map(_.partId).toSet

    // fully-resumed fast path: the complete marker (written only after the
    // manifest commit) is the exact signal — the manifest alone cannot be,
    // because empty hash partitions emit no blocks and so no entries. The
    // entry-count check remains as a fallback for stores written before
    // the marker existed.
    val fullyResumed = exists(spark, manifestDir(outDir)) &&
      (readMarker(spark, completeFile(outDir)).contains(fp) ||
        (completed.size >= cfg.numPartitions &&
          (0 until cfg.numPartitions).forall(completed.contains)))

    val manifest = if (fullyResumed) existing else {
      // the in-progress marker legitimizes cleanUncommitted on a later
      // resume: blocks-without-manifest PLUS this marker = our own crash
      // debris (safe to clean); without it = someone else's committed data
      // (refused above). Written before the first destructive step.
      writeMarker(spark, inProgressFile(outDir), fp)
      // the store is about to stop being complete — retract the claim
      // before any mutation, like the ordering claim below
      deleteFile(spark, completeFile(outDir))

      // remove block output of partitions that never reached the manifest
      // (crashed mid-write), and any crashed run's staging dir, so
      // re-encode does not duplicate
      cleanUncommitted(spark, outDir, completed)

      // stamp the block-format version before any block lands (verified
      // compatible at the top of this method, before anything destructive)
      StoreMeta.writeFormatMarker(conf, blocksDir(outDir))

      // retract any ordering claim BEFORE publishing (repo invariant:
      // stale claims are worse than none — a crash mid-append must not
      // leave a marker describing the pre-append order); re-asserted
      // below only after the manifest commit succeeds
      StoreMeta.clearSortKeys(conf, blocksDir(outDir))

      val partitioned = Encoder.partitionInput(df, cols, sortKeys, cfg, Some(skew))
      val bdir = blocksDir(outDir)
      val run = java.util.UUID.randomUUID().toString.take(12)
      val colNames = cols.toArray
      // same plan as Encoder.encodePartitioned, so partition ids (and with
      // them the resume fingerprint) are unchanged
      val staged = partitioned.queryExecution.toRdd.mapPartitions { rows =>
        val partId = TaskContext.getPartitionId()
        if (completed.contains(partId)) Iterator.empty
        else stagePartition(rows, colNames, partId, cfg, bdir, run, fp).iterator
      }.collect()
      val bpath = new org.apache.hadoop.fs.Path(bdir)
      val fs = bpath.getFileSystem(conf)
      staged.foreach(p => BlockParquet.publish(fs, bpath, p.partId, p.file))
      fs.delete(BlockParquet.stagingDir(bdir, run), true)

      val committed = kept ++ staged.flatMap(_.entries)
      commitManifest(spark, committed, outDir)

      // record the sorted-by prefix the encode actually guarantees: the
      // within-partition order is (head, salt, rest), so with a non-empty
      // skew plan only the head key's order survives across salt buckets
      StoreMeta.writeSortKeys(conf,
        blocksDir(outDir), if (skew.isEmpty) sortKeys else sortKeys.take(1))

      // commit succeeded: claim completeness, then drop the debris marker
      // (this order — a crash between the two leaves both, which resumes
      // through the marker-matching fast path above, never re-cleans)
      writeMarker(spark, completeFile(outDir), fp)
      deleteFile(spark, inProgressFile(outDir))
      committed
    }
    EncodeResult(
      completedParts = manifest.map(_.partId).distinct.size,
      skippedParts = completed.size,
      rowCount = manifest.map(_.rowCount).sum / math.max(1, cols.length),
      rawBytes = manifest.map(_.rawBytes).sum,
      encodedBytes = manifest.map(_.encodedBytes).sum)
  }

  /** one encoded partition: its staged block file and per-column tally */
  private final case class StagedPart(partId: Int, file: String, entries: Seq[ManifestEntry])

  /** Task side of the publish: encode one sorted partition with the shared
    * kernel into one staged block file and tally each column's manifest
    * entry from the blocks' metadata. An empty partition writes no file.
    */
  private def stagePartition(rows: Iterator[InternalRow], colNames: Array[String],
      partId: Int, cfg: Encoder.EncodeConfig, bdir: String, run: String,
      fp: String): Option[StagedPart] = {
    val out = new BlockParquet.Writer(
      BlockParquet.stagedFile(bdir, run, partId, TaskContext.get().taskAttemptId()))
    val meta = scala.collection.mutable.ArrayBuffer.empty[graft.model.EncodedBlock]
    try {
      new BlockAccumulator(colNames, partId, cfg.blockRows, cfg.zstdLevel).drain(rows)
        .foreach { b => out.write(b); meta += b.copy(data = null) }
      out.close()
    } catch { case e: Throwable => out.abort(); throw e }
    if (meta.isEmpty) None
    else Some(StagedPart(partId, out.file.toString, colNames.toSeq.map { c =>
      val bs = meta.filter(_.colName == c)
      ManifestEntry(partId, c, bs.map(_.codecId).distinct.sorted.mkString(","),
        bs.size, bs.map(_.rowCount.toLong).sum, bs.map(_.rawBytes).sum,
        bs.map(_.encodedBytes).sum, fp)
    }))
  }

  /** any committed (non-staging) block parquet under partId= dirs */
  private def hasCommittedBlocks(spark: SparkSession, outDir: String): Boolean = {
    val bdir = new org.apache.hadoop.fs.Path(blocksDir(outDir))
    val fs = bdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(bdir) && fs.listStatus(bdir).exists { st =>
      st.getPath.getName.startsWith("partId=") &&
        fs.listStatus(st.getPath).exists(_.getPath.getName.endsWith(".parquet"))
    }
  }

  /** single-line marker, temp-then-rename like every commit here */
  private def writeMarker(spark: SparkSession, file: String, body: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(file + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"marker rename failed: $tmp -> $p")
  }

  private def readMarker(spark: SparkSession, file: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } catch { case _: Exception => None }
  }

  private def deleteFile(spark: SparkSession, file: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    ()
  }

  /** Load the persisted skew plan if it was written under the same base
    * fingerprint; otherwise compute one and commit it (temp-then-rename)
    * before any encode work starts. File format: line 1 = base fingerprint,
    * then one `buckets<TAB>base64(keyUtf8)` line per skewed key (base64
    * sidesteps keys containing tabs/newlines).
    */
  private def loadOrComputeSkewPlan(
      spark: SparkSession,
      df: DataFrame,
      skewKey: String,
      cfg: Encoder.EncodeConfig,
      outDir: String,
      baseFp: String): Map[String, Int] = {
    val path = new org.apache.hadoop.fs.Path(skewPlanFile(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b64 = java.util.Base64.getEncoder
    val b64d = java.util.Base64.getDecoder

    if (fs.exists(path)) {
      val in = fs.open(path)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      if (lines.nonEmpty && lines.head == baseFp)
        return lines.tail.iterator.filter(_.nonEmpty).map { ln =>
          val Array(n, k) = ln.split("\t", 2)
          new String(b64d.decode(k), "UTF-8") -> n.toInt
        }.toMap
      // stale plan from a different input/config: fall through and replace
    }

    val plan = Encoder.skewPlan(df, skewKey, cfg)
    val tmp = new org.apache.hadoop.fs.Path(skewPlanFile(outDir) + ".tmp")
    if (fs.exists(tmp)) fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try {
      val body = (baseFp +: plan.toSeq.sortBy(_._1).map { case (k, n) =>
        s"$n\t${b64.encodeToString(k.getBytes("UTF-8"))}"
      }).mkString("\n")
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
    if (fs.exists(path)) fs.delete(path, false)
    require(fs.rename(tmp, path), s"atomic skew-plan rename failed: $tmp -> $path")
    plan
  }

  private def cleanUncommitted(
      spark: SparkSession,
      outDir: String,
      completed: Set[Int]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bdir = new org.apache.hadoop.fs.Path(blocksDir(outDir))
    if (!fs.exists(bdir)) return
    fs.listStatus(bdir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("_staging-")) fs.delete(st.getPath, true)
      else if (name.startsWith("partId=")) {
        val pid = name.stripPrefix("partId=").toInt
        if (!completed.contains(pid)) fs.delete(st.getPath, true)
      }
    }
  }

  private def commitManifest(
      spark: SparkSession, entries: Seq[ManifestEntry], outDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$outDir/manifest.tmp.d")
    val fin = new org.apache.hadoop.fs.Path(manifestDir(outDir))
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // every field nullable: readers project the numeric fields as OPTIONAL
    val schema = org.apache.spark.sql.types.StructType(
      Encoders.product[ManifestEntry].schema.fields.map(_.copy(nullable = true)))
    val rows = entries.sortBy(e => (e.partId, e.colName))
      .map(e => Row.fromSeq(e.productIterator.toSeq))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(fin)) fs.delete(fin, true)
    require(fs.rename(tmp, fin), s"atomic manifest rename failed: $tmp -> $fin")
  }

  def fingerprint(
      inputFingerprint: String,
      cols: Seq[String],
      sortKeys: Seq[String],
      cfg: Encoder.EncodeConfig): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = s"$inputFingerprint|${cols.mkString(",")}|${sortKeys.mkString(",")}|" +
      // v3: the salt hash dropped abs() (ANSI overflow on Long.MinValue),
      // which moves negative-hash rows to different salt buckets — old
      // manifests must not mix with new partitioning (v2: per-partition
      // FSST table reuse changed encoded bytes)
      s"${cfg.numPartitions}|${cfg.blockRows}|${Encoder.BlockBytes}|${Encoder.SkewFactor}|${cfg.zstdLevel}|v3"
    md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }
}
