package graft.engine

import graft.datasource.GraftPred
import graft.model.EncodedBlock
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.{StructField, StructType}

/** The decode pass: regroup a block table by (partId, blockIdx) and hand
  * each group to the one decode kernel (`BlockGroupDecoder`), which decodes
  * and checks it and zips the columns back into rows — the inverse of
  * BlockCodec, and the analog of the reference's validated decode path
  * (reference: avro/AvroToIon.java:88-136). Bit-identity of every value is
  * the contract (sha256-per-row verified in graft.verify).
  */
object Decoder {

  /** Corrupt-block policy ≙ the reference's onBadLines for undecodable
    * input (reference: OnBadLines.java:6-19, applied on the decode path
    * like avro/AvroToIon.java:110-118): ERROR fails the job with a block
    * identity in the message; SKIP drops the whole block-group; WARN drops
    * and logs to stderr.
    */
  sealed trait OnBadBlocks
  case object ErrorOnBadBlocks extends OnBadBlocks
  case object SkipBadBlocks extends OnBadBlocks
  case object WarnBadBlocks extends OnBadBlocks

  /** Decode a block STORE on disk (the Checkpoint outDir layout) through
    * the DataSource V2 reader: blocks of a row group are co-located per
    * partition directory, so reconstruction is SHUFFLE-FREE — prefer this
    * over `decode` (one co-location shuffle) whenever the blocks are on
    * disk rather than an in-flight Dataset.
    */
  def decodeStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      cols: Seq[String]): DataFrame =
    spark.read.format("graft").load(storeDir)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)

  def decode(blocks: Dataset[EncodedBlock], cols: Seq[String],
      onBad: OnBadBlocks = ErrorOnBadBlocks): DataFrame =
    decodeGroups(blocks, cols, Nil, onBad)

  /** Point lookup over the encoded table: the same single co-location pass
    * as `decode`, with the equality pushed into the block-group kernel —
    * groups whose key block's min/max prefixes or dictionary / FoR /
    * membership-filter metadata rule the value out are skipped without
    * decoding a payload; surviving groups decode the key column first and
    * materialize the other columns for the matching rows only. Equality
    * semantics, bit-exact.
    */
  def decodeWhereEq(
      blocks: Dataset[EncodedBlock],
      cols: Seq[String],
      keyCol: String,
      value: String): DataFrame = {
    require(cols.contains(keyCol), s"key column $keyCol not in $cols")
    decodeGroups(blocks, cols, Seq(GraftPred("eq", keyCol, value)), ErrorOnBadBlocks)
  }

  private def decodeGroups(blocks: Dataset[EncodedBlock], cols: Seq[String],
      preds: Seq[GraftPred], onBad: OnBadBlocks): DataFrame = {
    import org.apache.spark.sql.functions.col
    val colNames = cols.toArray
    val strSchema = StructType(colNames.map(c =>
      StructField(c, org.apache.spark.sql.types.StringType, nullable = true)))
    // column pruning: blocks of unrequested columns never enter the shuffle
    // (a pushable filter on the blocks scan — decode a 1-column projection
    // of a 5-column table and only 1/5th of the bytes move)
    val wanted = blocks.filter(col("colName").isin(colNames.toIndexedSeq: _*))
    // Group co-location via an explicit repartition + within-partition sort
    // (Exchange + Sort + streaming group cursor), drained as InternalRows:
    // the decoded bytes are wrapped as UTF8String directly (no external Row,
    // no RowEncoder, no binary→string cast projection).
    val spark = blocks.sparkSession
    // canonical column order + types BEFORE the positional InternalRow
    // reads below: a block table read back from a store has partId moved
    // to the END of its schema (the `partId=N` directory column), and
    // the typed Dataset seam only fixes that up at deserialization — which
    // this drain skips
    val canonical = wanted.select(
      col("colName"), col("partId").cast("int"), col("blockIdx").cast("int"),
      col("codecId").cast("tinyint"), col("wrapId").cast("tinyint"),
      col("rowCount").cast("int"), col("rawBytes").cast("long"),
      col("encodedBytes").cast("long"), col("minPrefix"), col("maxPrefix"),
      col("data"))
    val sorted = canonical
      .repartition(col("partId"), col("blockIdx"))
      .sortWithinPartitions(col("partId"), col("blockIdx"))
    val rowRdd = sorted.queryExecution.toRdd.mapPartitions { rows =>
      // streaming group cursor: rows arrive sorted by (partId, blockIdx);
      // hold one group's blocks at a time (same memory shape as the old
      // MapGroups). Field offsets follow the EncodedBlock product schema.
      val kernel = new BlockGroupDecoder(colNames, preds)
      new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        private var pending: Iterator[org.apache.spark.sql.catalyst.InternalRow] =
          Iterator.empty
        private var nextBlock: EncodedBlock = null

        private def readBlock(): EncodedBlock =
          if (!rows.hasNext) null
          else {
            val r = rows.next()
            // loud on null metadata: the old typed deserializer threw on a
            // null primitive field; positional getInt/getLong on a null
            // slot would silently read 0 and mis-group the block instead.
            // Fields 8-9 (the min/max prefixes) are null for all-null blocks.
            var c = 0
            while (c <= 7) {
              if (r.isNullAt(c))
                throw new IllegalStateException(
                  s"corrupt block row: null metadata field #$c")
              c += 1
            }
            if (r.isNullAt(10))
              throw new IllegalStateException(
                "corrupt block row: null data payload")
            EncodedBlock(
              r.getUTF8String(0).toString, r.getInt(1), r.getInt(2),
              r.getByte(3), r.getByte(4), r.getInt(5), r.getLong(6),
              r.getLong(7),
              if (r.isNullAt(8)) null else r.getUTF8String(8).toString,
              if (r.isNullAt(9)) null else r.getUTF8String(9).toString,
              r.getBinary(10))
          }

        private def fillGroup(): Unit = {
          if (nextBlock == null) nextBlock = readBlock()
          if (nextBlock == null) return
          val partId = nextBlock.partId
          val blockIdx = nextBlock.blockIdx
          val byCol = scala.collection.mutable.HashMap.empty[String, EncodedBlock]
          while (nextBlock != null && nextBlock.partId == partId &&
              nextBlock.blockIdx == blockIdx) {
            byCol(nextBlock.colName) = nextBlock
            nextBlock = readBlock()
          }
          val matched =
            try kernel.decode(byCol, partId, blockIdx)
            catch {
              case e: BlockGroupDecoder.UndecodableGroupException if onBad != ErrorOnBadBlocks =>
                if (onBad == WarnBadBlocks) System.err.println(s"[graft] skipping ${e.getMessage}")
                null
            }
          if (matched != null)
            pending = matched.rows.iterator.map { i =>
              val vals = new Array[Any](colNames.length)
              var c = 0
              while (c < colNames.length) {
                val b = matched.values(c)(i)
                vals(c) =
                  if (b == null) null
                  else org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
                c += 1
              }
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
            }
        }

        override def hasNext: Boolean = {
          while (!pending.hasNext && (rows.hasNext || nextBlock != null))
            fillGroup()
          pending.hasNext
        }

        override def next(): org.apache.spark.sql.catalyst.InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          pending.next()
        }
      }
    }
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(spark, rowRdd, strSchema)
  }
}
