package graft.engine

import graft.codec.{Codec, Fsst}
import graft.model.EncodedBlock
import graft.plan.CodecSelector
import graft.stats.BlockStats
import org.apache.spark.sql.catalyst.InternalRow
import scala.collection.mutable.ArrayBuffer

/** The one block-encode kernel behind every writer: Encoder.encode,
  * Checkpoint's tasks, the DSv2 batch write and the streaming sink.
  *
  * Rows of one sorted partition arrive as byte cells; a block is cut after
  * `blockRows` rows or once its raw cell bytes reach Encoder.BlockBytes.
  * The first block is the sampling pass of the reference's two-pass encode
  * (parquet/IonToParquet.java:155-204): its exact stats fix the codec plan
  * and train the FSST tables once per partition (training is the encode
  * hot-path cost; the sorted partition keeps content locality, so the
  * table stays apt). Memory holds at most one block of raw cells.
  */
final class BlockAccumulator(
    colNames: Array[String], partId: Int, blockRows: Int, zstdLevel: Int) {

  private val bufs = Array.fill(colNames.length)(ArrayBuffer.empty[Array[Byte]])
  private var rows, blockIdx = 0
  private var bytes = 0L
  private var plan: Array[Codec] = null
  private var fsstTables: Array[Fsst.Table] = null

  /** buffer cell `c` of the current row; null is SQL NULL */
  def put(c: Int, cell: Array[Byte]): Unit = {
    bufs(c) += cell
    if (cell != null) bytes += cell.length
  }

  /** close the current row; true once the block is full and must be flushed */
  def endRow(): Boolean = {
    rows += 1
    rows >= blockRows || bytes >= Encoder.BlockBytes
  }

  /** encode the buffered rows, one block per column; empty if none are buffered */
  def flush(): Array[EncodedBlock] = {
    if (rows == 0) return Array.empty
    val cells = bufs.map(_.toArray)
    bufs.foreach(_.clear())
    rows = 0
    bytes = 0L
    if (plan == null) {
      plan = Array.tabulate(colNames.length)(c =>
        CodecSelector.select(BlockStats.compute(colNames(c), partId, cells(c))))
      fsstTables = Array.tabulate(colNames.length)(c =>
        if (plan(c) eq Fsst) new Fsst.Table(Fsst.train(cells(c).filter(_ != null)))
        else null)
    }
    val out = Array.tabulate(colNames.length)(c => BlockCodec.encodeBlock(
      colNames(c), partId, blockIdx, cells(c), plan(c), zstdLevel, fsstTables(c)))
    blockIdx += 1
    out
  }

  /** Pull-side drain of a partition of binary cells (column order ==
    * colNames); getBinary copies out of the reused UnsafeRow buffer.
    */
  def drain(in: Iterator[InternalRow]): Iterator[EncodedBlock] =
    Iterator.continually {
      var full = false
      while (!full && in.hasNext) {
        val r = in.next()
        var c = 0
        while (c < colNames.length) {
          put(c, if (r.isNullAt(c)) null else r.getBinary(c))
          c += 1
        }
        full = endRow()
      }
      flush()
    }.takeWhile(_.nonEmpty).flatMap(_.iterator)
}
