package graft.datasource

import graft.engine.{BlockAccumulator, BlockParquet, Encoder}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructType}

/** Write side of the `graft` DataSource V2: `df.write.format("graft")
  * .option("sortKeys", "k1,k2").save(store)` encodes string columns into
  * the same `{blocks/partId=N}` layout the reader scans.
  *
  * The encoder wants co-located, sorted keys — instead of shuffling
  * internally, the Write declares RequiresDistributionAndOrdering
  * (clustered on the first sort key, ordered by all of them) and SPARK
  * plans the exchange + sort. Each task then feeds its rows to the
  * engine's one block-encode kernel (graft.engine.BlockAccumulator, under
  * EncodeConfig's default caps and zstd level) and writes the blocks with
  * the one block-file writer (graft.engine.BlockParquet) — the same block
  * bytes Encoder.encode and Checkpoint produce for the same sorted
  * partition, published through the same staged rename.
  *
  * This is the one-shot export path; resumable encode with skew salting
  * and manifest lineage stays in graft.engine.Checkpoint.
  */
class GraftWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  private val writeId: String = java.util.UUID.randomUUID().toString.take(12)

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    private val schema = info.schema()
    private val sortKeys: Seq[String] = Option(info.options.get("sortKeys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(schema.fieldNames.head))
    require(sortKeys.forall(schema.fieldNames.contains),
      s"sortKeys ${sortKeys.mkString(",")} must be columns of ${schema.fieldNames.mkString(",")}")
    // the encoder reads every cell as UTF-8 bytes: any other type would be
    // read from the row slot as if it were a string
    require(schema.fields.forall(_.dataType == StringType),
      "graft stores string columns only; cast these first: " +
        schema.fields.filter(_.dataType != StringType)
          .map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", "))

    override def requiredDistribution(): Distribution =
      Distributions.clustered(Array(Expressions.identity(sortKeys.head)))

    override def requiredOrdering(): Array[SortOrder] =
      sortKeys.map(k => Expressions.sort(Expressions.identity(k),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

    override def requiredNumPartitions(): Int =
      Option(info.options.get("numPartitions")).map(_.toInt).getOrElse(0)

    override def toBatch: BatchWrite = {
      // appends must carry the store's exact column set (overwrite replaces
      // the store, so any column set is fine there)
      if (!doTruncate) GraftDataSource.checkAppendColumns(path, schema.fieldNames)
      new GraftBatchWrite(path, schema, doTruncate, writeId, sortKeys)
    }

    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      if (doTruncate)
        throw new UnsupportedOperationException(
          "graft streaming sink supports append output mode only")
      GraftDataSource.checkAppendColumns(path, schema.fieldNames)
      new GraftStreamingWrite(path, schema, info.queryId())
    }
  }
}

/** `df.writeStream.format("graft")` — the block store as a streaming sink,
  * symmetric to the readStream source. Each micro-batch stages files
  * exactly like the batch writer, but the published name is DETERMINISTIC
  * per (query, epoch, partition): a replayed epoch (restart from the
  * checkpoint, speculative driver retry of commit) finds its file already
  * in place and discards the duplicate instead of double-publishing —
  * exactly-once without a separate sink log, because the file NAME is the
  * commit record. Stores fragmented by many small epochs compact with
  * GraftCompact.
  */
final class GraftStreamingWrite(path: String, schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  // stable per query across restarts (queryId persists in the checkpoint),
  // short enough for file names
  private val qTag = Integer.toHexString(queryId.hashCode)

  private def hadoopConf =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  // reader-convention resolution, like the batch writer — see GraftBatchWrite
  private lazy val blocks: Path = GraftDataSource.blocksDirForWrite(path)
  private lazy val storeRoot: Path = GraftDataSource.storeRootFor(path, blocks)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftStreamingWriterFactory(blocks.toString, qTag, schema.fieldNames)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = blocks.getFileSystem(hadoopConf)
    // refuse a store written under a different block layout; stamp ours
    graft.engine.StoreMeta.checkFormat(hadoopConf, blocks.toString)
    graft.engine.StoreMeta.writeFormatMarker(hadoopConf, blocks.toString)
    // retract ordering claim + stale Checkpoint manifest BEFORE publishing
    // (epoch files interleave sorted runs; counts change under the manifest)
    graft.engine.StoreMeta.clearSortKeys(hadoopConf, blocks.toString)
    val manifest = new Path(storeRoot, "manifest")
    if (fs.exists(manifest)) fs.delete(manifest, true)
    // the resumable encoder's completeness claim dies with the manifest —
    // a stale one would let encodeResumable's fast path describe a store
    // this epoch just extended
    fs.delete(new Path(storeRoot, "complete.txt"), false)

    // Epoch-replay dedupe is per (query,epoch,partition) FILE NAME, which is
    // only sound when a replayed epoch plans the SAME partitioning — if
    // spark.sql.shuffle.partitions changed across a restart, the replay
    // would publish a different file set and mix attempts (old-attempt
    // files for partitions the new attempt no longer writes would stay
    // published next to the new attempt's). Record the epoch's non-empty
    // partition set BEFORE publishing and fail loudly on mismatch.
    val expected = messages.collect {
      case GraftCommit(pid, rows, file) if rows > 0 && file != null => pid
    }.sorted
    val marker = new Path(blocks, s"_epoch-q$qTag-e$epochId.json")
    val isReplay = fs.exists(marker)
    if (isReplay) {
      // an unreadable marker must NOT decay into "recorded nothing": that
      // compares unequal to any non-empty set and mis-blames the sink
      // partitioning — surface the real problem instead
      val recorded = try {
        val in = fs.open(marker)
        val root = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
          finally in.close()
        val arr = root.get("partitions")
        (0 until arr.size()).map(arr.get(_).asInt()).toSeq
      } catch {
        case e: Exception =>
          throw new IllegalStateException(
            s"unreadable epoch marker $marker — cannot decide whether epoch " +
              s"$epochId is a replay; refusing to publish (inspect or remove " +
              "the marker)", e)
      }
      if (recorded != expected.toSeq)
        throw new IllegalStateException(
          s"replayed epoch $epochId of query $qTag plans partitions " +
            s"[${expected.mkString(",")}] but the original attempt published " +
            s"[${recorded.mkString(",")}] — sink partitioning must be pinned " +
            "across restarts (spark.sql.shuffle.partitions changed?); " +
            "refusing to mix attempts")
    } else {
      // no marker — but if compaction SWEPT it (tombstone holds this
      // query's high-water mark at or above this epoch), the epoch was
      // committed and its files merged away: re-publishing would duplicate
      // every one of its rows inside the compacted file
      if (GraftCompact.compactedEpochMax(hadoopConf, blocks, qTag)
          .exists(_ >= epochId))
        throw new IllegalStateException(
          s"epoch $epochId of query $qTag was committed and then compacted " +
            "(its marker was swept into the epoch tombstone) — publishing " +
            "again would duplicate its rows; restart the query from a " +
            "fresh checkpoint")
      val tmp = new Path(blocks, s"_epoch-q$qTag-e$epochId.json.tmp")
      val out = fs.create(tmp, true)
      try out.write(
        s"""{"partitions":[${expected.mkString(",")}]}""".getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, marker))
        throw new java.io.IOException(s"epoch marker rename failed: $marker")
    }

    messages.foreach {
      case GraftCommit(pid, rows, file) if rows > 0 && file != null =>
        val dest = new Path(new Path(blocks, s"partId=$pid"),
          s"part-q$qTag-e$epochId-p$pid.parquet")
        val src = new Path(file)
        if (fs.exists(dest)) {
          // replayed epoch: the previous attempt already published this
          // partition — same partition set (checked above), same rows
          // re-encoded
          fs.delete(src, false)
        } else if (isReplay && fs.exists(dest.getParent) &&
            fs.listStatus(dest.getParent).exists(
              _.getPath.getName.startsWith("part-compact-"))) {
          // the marker proves this epoch WAS committed, its file is gone,
          // and the partition dir holds a compacted file — GraftCompact
          // merged the epoch file away. Publishing the staged copy would
          // duplicate every row already inside the merged file. (A missing
          // dest WITHOUT compaction evidence is the ordinary crash window:
          // the marker renames before the file publishes, so a replay that
          // finds no dest and no rewrite just finishes the publish.)
          throw new IllegalStateException(
            s"replayed epoch $epochId of query $qTag: its published file " +
              s"${dest.getName} was merged by a compaction since the " +
              "original attempt — publishing again would duplicate its " +
              "rows; restart the query from a fresh checkpoint")
        } else {
          fs.mkdirs(dest.getParent)
          if (!fs.rename(src, dest))
            throw new java.io.IOException(s"streaming commit rename failed: $src -> $dest")
        }
      case _ =>
    }
    val staging = BlockParquet.stagingDir(blocks.toString, s"q$qTag-e$epochId")
    if (fs.exists(staging)) fs.delete(staging, true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staging = BlockParquet.stagingDir(blocks.toString, s"q$qTag-e$epochId")
    val fs = staging.getFileSystem(hadoopConf)
    if (fs.exists(staging)) fs.delete(staging, true)
  }
}

final case class GraftStreamingWriterFactory(
    blocksDir: String, qTag: String, cols: Array[String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(blocksDir, s"q$qTag-e$epochId", cols, partitionId, taskId)
}

/** Commit protocol (BlockParquet's staged rename, the one Checkpoint
  * publishes through too): tasks write to `blocks/_staging-<writeId>/` (underscore
  * dirs are invisible to spark.read AND to the graft reader's partId=
  * listing), the driver's `commit()` renames exactly the files named in the
  * WriterCommitMessages into `blocks/partId=N/` and deletes the staging dir
  * — so a task attempt that died after writing (executor loss, speculation
  * loser whose abort never ran) leaves only a straggler in staging that is
  * swept away, never a duplicate block file the reader would double-count.
  * Truncate is DEFERRED to commit: a failed overwrite job leaves the
  * previous store intact.
  */
class GraftBatchWrite(path: String, schema: StructType, truncate: Boolean,
    writeId: String, sortKeys: Seq[String] = Nil) extends BatchWrite {

  private def hadoopConf =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  // resolved ONCE on the driver with the readers' convention: a store
  // addressed by its blocks dir extends in place instead of nesting a
  // second store (which would hide every pre-existing row from later reads)
  private lazy val blocks: Path = GraftDataSource.blocksDirForWrite(path)
  private lazy val storeRoot: Path = GraftDataSource.storeRootFor(path, blocks)

  private def stagingDir = BlockParquet.stagingDir(blocks.toString, writeId)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftWriterFactory(blocks.toString, writeId, schema.fieldNames)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = blocks.getFileSystem(hadoopConf)
    // refuse to APPEND into a store written under a different block layout;
    // an overwrite REPLACES the store, so a pre-v2/wrong-version store is a
    // legitimate target there (refusing would block the documented remedy
    // "re-encode the store"). Append stamps the version up front (verified
    // compatible); truncate stamps only AFTER the old blocks die below.
    if (!truncate) {
      graft.engine.StoreMeta.checkFormat(hadoopConf, blocks.toString)
      graft.engine.StoreMeta.writeFormatMarker(hadoopConf, blocks.toString)
    }
    // a DSv2 write makes any Checkpoint manifest stale (it describes blocks
    // this write replaces or extends) — drop it so stats/resume never trust
    // counts for data that changed underneath them
    val manifest = new Path(storeRoot, "manifest")
    if (fs.exists(manifest)) fs.delete(manifest, true)
    // the resumable encoder's completeness claim dies with the manifest
    fs.delete(new Path(storeRoot, "complete.txt"), false)
    // append mode interleaves sorted files: retract the ordering claim
    // BEFORE any file lands, so no crash window can leave a false claim
    // (overwrite re-asserts it after a successful publish below)
    graft.engine.StoreMeta.clearSortKeys(hadoopConf, blocks.toString)
    if (truncate && fs.exists(blocks)) {
      // deferred truncate: old partitions die only once every new task has
      // successfully committed (staging dir is spared — it holds the data).
      // Streaming epoch markers describe the REPLACED data — stale markers
      // would make a later replay of a recycled (query, epoch) pair compare
      // against files that no longer exist, so they die with it. The
      // compaction tombstone is the same class of stale claim: left behind,
      // a replayed (query, epoch) at or below its high-water mark would be
      // refused as "compacted" against a store that was actually replaced.
      fs.listStatus(blocks)
        .filter(st => st.getPath.getName.startsWith("partId=") ||
          st.getPath.getName.startsWith("_epoch-") ||
          st.getPath.getName == GraftCompact.EpochTombstone)
        .foreach(st => fs.delete(st.getPath, true))
    }
    // truncate stamps the version only now, with the old-layout blocks
    // gone: stamping before the delete loop would open a crash window in
    // which pre-v2 blocks sit under a v2 marker and every later reader
    // MISPARSES them instead of refusing (a crash between the delete and
    // this stamp leaves the old marker over an emptied store — a loud
    // refusal until the overwrite is re-run, never wrong values)
    if (truncate)
      graft.engine.StoreMeta.writeFormatMarker(hadoopConf, blocks.toString,
        replaceDifferent = true)
    messages.foreach {
      case GraftCommit(pid, rows, file) if rows > 0 && file != null =>
        BlockParquet.publish(fs, blocks, pid, file)
      case _ =>
    }
    if (fs.exists(stagingDir)) fs.delete(stagingDir, true)
    // Spark planned the exact sortKeys order (RequiresDistributionAndOrdering)
    // and an overwrite leaves one file per partition -> record the full
    // prefix (appends already retracted the claim up front)
    if (truncate && sortKeys.nonEmpty)
      graft.engine.StoreMeta.writeSortKeys(hadoopConf, blocks.toString, sortKeys)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(hadoopConf)
    if (fs.exists(stagingDir)) fs.delete(stagingDir, true)
  }
}

final case class GraftWriterFactory(blocksDir: String, writeId: String, cols: Array[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(blocksDir, writeId, cols, partitionId, taskId)
}

final case class GraftCommit(partitionId: Int, rows: Long, stagedFile: String)
    extends WriterCommitMessage

/** Streams one shuffled+sorted partition through the engine's
  * BlockAccumulator into one block file under blocks/_staging-<writeId>/.
  * Bounded memory: one block of raw values per column at a time.
  */
final class GraftDataWriter(
    blocksDir: String, writeId: String, cols: Array[String],
    partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val blocks = {
    val cfg = Encoder.EncodeConfig()
    new BlockAccumulator(cols, partitionId, cfg.blockRows, cfg.zstdLevel)
  }
  // the taskId in the name keeps retried attempts distinct — dedupe of
  // racing attempts comes from the commit coordinator
  // (BatchWrite.useCommitCoordinator default: exactly one attempt per
  // partition gets to send a commit message), NOT from name collisions
  private val out = new BlockParquet.Writer(
    BlockParquet.stagedFile(blocksDir, writeId, partitionId, taskId))
  private var rowCount = 0L

  override def write(row: InternalRow): Unit = {
    var c = 0
    while (c < cols.length) {
      blocks.put(c, if (row.isNullAt(c)) null else row.getUTF8String(c).getBytes)
      c += 1
    }
    rowCount += 1
    if (blocks.endRow()) blocks.flush().foreach(out.write)
  }

  override def commit(): WriterCommitMessage = {
    blocks.flush().foreach(out.write)
    out.close()
    GraftCommit(partitionId, rowCount, if (rowCount > 0) out.file.toString else null)
  }

  override def abort(): Unit = out.abort()

  override def close(): Unit = ()
}
