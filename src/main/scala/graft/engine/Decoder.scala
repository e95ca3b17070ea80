package graft.engine

import graft.model.EncodedBlock
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** The decode pass: regroup a block table by (partId, blockIdx), decode each
  * column block, and zip the columns back into rows — the inverse of
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
    * over `decode` (one groupByKey shuffle) whenever the blocks are on
    * disk rather than an in-flight Dataset.
    */
  def decodeStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      cols: Seq[String]): DataFrame =
    spark.read.format("graft").load(storeDir)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)

  def decode(blocks: Dataset[EncodedBlock], cols: Seq[String],
      onBad: OnBadBlocks = ErrorOnBadBlocks): DataFrame = {
    import org.apache.spark.sql.functions.col
    val colNames = cols.toArray
    val strSchema = StructType(colNames.map(c =>
      StructField(c, org.apache.spark.sql.types.StringType, nullable = true)))
    // column pruning: blocks of unrequested columns never enter the shuffle
    // (a pushable filter on the blocks scan — decode a 1-column projection
    // of a 5-column table and only 1/5th of the bytes move)
    val wanted = blocks.filter(col("colName").isin(colNames.toIndexedSeq: _*))
    // Group co-location via an explicit repartition + within-partition sort
    // — the exact physical shape groupByKey planned (Exchange + Sort +
    // streaming group cursor), drained as InternalRows: the old
    // flatMapGroups emitted an external Row per decoded row and paid the
    // RowEncoder (ValidateExternalType + UnsafeRow write) plus a
    // binary→string cast projection on every cell; this path wraps the
    // decoded bytes as UTF8String directly (no copy, no validation layer).
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
          val decodedOrErr: Either[Throwable, Array[Array[Array[Byte]]]] =
            try Right {
              val d = colNames.map(c => BlockCodec.decodeBlock(byCol.getOrElse(c,
                throw new IllegalStateException(
                  s"missing column block '$c' (have ${byCol.keys.mkString(",")})"))))
              // a group whose columns decode to DIFFERENT row counts is
              // corrupt: zipping by the first column's length would silently
              // drop rows — detect it here so it routes through the policy
              var c = 1
              while (c < d.length) {
                if (d(c).length != d(0).length)
                  throw new IllegalStateException(
                    s"column '${colNames(c)}' decoded ${d(c).length} rows but " +
                      s"'${colNames(0)}' decoded ${d(0).length} — corrupt group")
                c += 1
              }
              d
            }
            catch { case e: Throwable => Left(e) }
          decodedOrErr match {
            case Left(e) =>
              onBad match {
                case ErrorOnBadBlocks =>
                  throw new IllegalStateException(
                    s"undecodable block group (partId=$partId, blockIdx=$blockIdx): ${e.getMessage}", e)
                case SkipBadBlocks =>
                case WarnBadBlocks =>
                  System.err.println(
                    s"[graft] skipping undecodable block group (partId=$partId, blockIdx=$blockIdx): ${e.getMessage}")
              }
            case Right(decoded) =>
              val n = decoded(0).length
              pending = (0 until n).iterator.map { i =>
                val vals = new Array[Any](colNames.length)
                var c = 0
                while (c < colNames.length) {
                  val b = decoded(c)(i)
                  vals(c) =
                    if (b == null) null
                    else org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
                  c += 1
                }
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
              }
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

  /** Late-materialized point lookup over the encoded table:
    *
    *   1. block skipping at the SCAN — the minPrefix/maxPrefix predicate is
    *      an ordinary pushable filter, so Parquet row-group stats prune
    *      blocks before any bytes are read;
    *   2. dictionary/FoR metadata check (`BlockCodec.mayContain`) skips
    *      surviving key blocks without decoding payloads;
    *   3. only the key column of surviving blocks decodes to find match
    *      row indices; the other columns decode only for blocks with hits,
    *      and only matching rows materialize.
    *
    * The scale analog of Parquet predicate pushdown, applied to our block
    * format. Equality semantics, bit-exact.
    */
  def decodeWhereEq(
      blocks: Dataset[EncodedBlock],
      cols: Seq[String],
      keyCol: String,
      value: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val colNames = cols.toArray
    val keyIdx = colNames.indexOf(keyCol)
    require(keyIdx >= 0, s"key column $keyCol not in $cols")
    val valBytes = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)

    val spark = blocks.sparkSession
    import spark.implicits._

    // (1) pushable lower-bound predicate on the key column's blocks. Only
    // the minPrefix leg is a sound direct comparison (minPrefix ≤ min ≤
    // any match in unsigned-lex, so minPrefix > value proves absence); the
    // maxPrefix leg needs the value TRUNCATED to the stored prefix's
    // length first — prefixes can cut at 23 OR 24 chars (surrogate-pair
    // safety), and comparing differently-cut prefixes directly can prune
    // a block that holds the match. That leg runs row-wise below, same
    // rule as graft.datasource.GraftPruning.lowerMayMatch.
    val keyBlocks = blocks
      .filter(col("colName") === keyCol &&
        col("minPrefix").isNotNull &&
        col("minPrefix") <= lit(value))

    // (2) + (3a): sound max-prefix check + metadata check, then decode
    // just the key column
    val hits = keyBlocks.flatMap { b =>
      val vk = if (b.maxPrefix != null && value.length > b.maxPrefix.length)
        value.substring(0, b.maxPrefix.length) else value
      if (b.maxPrefix != null && java.util.Arrays.compareUnsigned(
          vk.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.maxPrefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)) > 0)
        Iterator.empty
      else if (!BlockCodec.mayContain(b, valBytes)) Iterator.empty
      else {
        val decoded = BlockCodec.decodeBlock(b)
        val idx = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < decoded.length) {
          if (decoded(i) != null && java.util.Arrays.equals(decoded(i), valBytes)) idx += i
          i += 1
        }
        if (idx.isEmpty) Iterator.empty
        else Iterator.single((b.partId, b.blockIdx, idx.toArray))
      }
    }.toDF("partId", "blockIdx", "rowIdx")

    // (3b): full decode only for blocks with hits, materializing hit rows
    val binSchema = StructType(colNames.map(c => StructField(c, BinaryType, nullable = true)))
    val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    // no broadcast hint: `hits` carries an int array of every matching row
    // index per surviving block — tiny for selective keys, but a low-
    // selectivity key (40%+ of rows) would ship billions of indices to every
    // executor if forced. Size-based planning / AQE picks broadcast when the
    // hit set is actually small and a shuffled join otherwise.
    // Column pruning BEFORE the join: blocks of unrequested columns must
    // not ship their payloads through the shuffle (same filter decode()
    // applies before its groupByKey).
    val joined = blocks
      .filter(col("colName").isin(colNames.toIndexedSeq: _*))
      .join(hits, Seq("partId", "blockIdx"))
    val binary = joined
      .groupByKey(r => (r.getAs[Int]("partId"), r.getAs[Int]("blockIdx")))(keyEnc)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val idx = rows.head.getAs[scala.collection.Seq[Int]]("rowIdx").toArray
        val byCol = rows.map(r => r.getAs[String]("colName") -> r).toMap
        val decoded = colNames.map { c =>
          val r = byCol(c)
          BlockCodec.decodeBlock(EncodedBlock(
            c, r.getAs[Int]("partId"), r.getAs[Int]("blockIdx"),
            r.getAs[Byte]("codecId"), r.getAs[Byte]("wrapId"),
            r.getAs[Int]("rowCount"), r.getAs[Long]("rawBytes"),
            r.getAs[Long]("encodedBytes"), r.getAs[String]("minPrefix"),
            r.getAs[String]("maxPrefix"), r.getAs[Array[Byte]]("data")))
        }
        idx.iterator.map { i =>
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(
            decoded.map(d => d(i): Any)))
        }
      }(Encoders.row(binSchema))
    binary.select(colNames.map(c => col(c).cast("string").as(c)): _*)
  }
}
