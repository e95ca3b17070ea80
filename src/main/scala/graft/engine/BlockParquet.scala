package graft.engine

import graft.model.EncodedBlock
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.io.api.Binary

/** The one block-file layout and writer: EncodedBlock rows as snappy
  * parquet, `partId` carried by the `partId=N` directory name. The DSv2
  * batch write, the streaming sink, Checkpoint's tasks and GraftCompact
  * all write through here. `codecId`/`wrapId` are `int32 (INT_8)`, what
  * Spark's own writer emits for a Byte, so
  * `spark.read.parquet(<store>/blocks).as[EncodedBlock]` reads any store.
  *
  * Publish protocol: a task writes one file under
  * `blocks/_staging-<writeId>/` (invisible to spark.read and to the graft
  * reader's `partId=` listing); the driver renames exactly the reported
  * files into `blocks/partId=N/` and deletes the staging dir, so a
  * straggler attempt's file is swept, never published.
  */
private[graft] object BlockParquet {

  private val Schema: org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional binary colName (UTF8);
        |  required int32 blockIdx;
        |  required int32 codecId (INT_8);
        |  required int32 wrapId (INT_8);
        |  required int32 rowCount;
        |  required int64 rawBytes;
        |  required int64 encodedBytes;
        |  optional binary minPrefix (UTF8);
        |  optional binary maxPrefix (UTF8);
        |  optional binary data;
        |}""".stripMargin)

  private val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(Schema)

  private def toGroup(b: EncodedBlock): Group = {
    val g = factory.newGroup()
    g.append("colName", b.colName)
    g.append("blockIdx", b.blockIdx)
    g.append("codecId", b.codecId.toInt)
    g.append("wrapId", b.wrapId.toInt)
    g.append("rowCount", b.rowCount)
    g.append("rawBytes", b.rawBytes)
    g.append("encodedBytes", b.encodedBytes)
    if (b.minPrefix != null) g.append("minPrefix", b.minPrefix)
    if (b.maxPrefix != null) g.append("maxPrefix", b.maxPrefix)
    g.append("data", Binary.fromConstantByteArray(b.data))
    g
  }

  /** a full block row read from any graft block file */
  def fromGroup(g: Group, partId: Int, colName: String): EncodedBlock = {
    def strOrNull(field: String): String =
      if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)
    EncodedBlock(colName, partId, g.getInteger("blockIdx", 0),
      g.getInteger("codecId", 0).toByte, g.getInteger("wrapId", 0).toByte,
      g.getInteger("rowCount", 0), g.getLong("rawBytes", 0), g.getLong("encodedBytes", 0),
      strOrNull("minPrefix"), strOrNull("maxPrefix"), g.getBinary("data", 0).getBytes)
  }

  /** metadata-only row for count-shaped scans, read under a projection
    * without `data`: only identity + rowCount are real; nothing decodes it
    */
  def metaFromGroup(g: Group, partId: Int, colName: String): EncodedBlock =
    EncodedBlock(colName, partId, g.getInteger("blockIdx", 0), 0, 0,
      g.getInteger("rowCount", 0), 0L, 0L, null, null, Array.emptyByteArray)

  /** a block row rewritten under this layout with a re-stamped blockIdx */
  def copyGroup(g: Group, blockIdx: Int): Group =
    toGroup(fromGroup(g, 0, g.getString("colName", 0)).copy(blockIdx = blockIdx))

  def stagingDir(blocksDir: String, writeId: String): Path =
    new Path(blocksDir, s"_staging-$writeId")

  /** a task attempt's staged file; the attempt id keeps retries distinct */
  def stagedFile(blocksDir: String, writeId: String, partId: Int, attemptId: Long): Path =
    new Path(stagingDir(blocksDir, writeId), s"part-$writeId-$partId-$attemptId.parquet")

  /** driver side: move one reported staged file, name unchanged, into `partId=N/` */
  def publish(fs: FileSystem, blocksDir: Path, partId: Int, staged: String): Unit = {
    val dest = new Path(blocksDir, s"partId=$partId")
    fs.mkdirs(dest)
    val src = new Path(staged)
    if (!fs.rename(src, new Path(dest, src.getName)))
      throw new java.io.IOException(s"commit rename failed: $src -> $dest")
  }

  /** One block file, opened on the first block: a task that never writes a
    * block creates no file (an abort must not create one just to delete it).
    */
  final class Writer(val file: Path) {
    private var out: ParquetWriter[Group] = null

    def write(b: EncodedBlock): Unit = writeGroup(toGroup(b))

    def writeGroup(g: Group): Unit = {
      if (out == null) {
        val conf = new Configuration()
        GroupWriteSupport.setSchema(Schema, conf)
        out = ExampleParquetWriter.builder(
            org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
          .withConf(conf)
          .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
          .build()
      }
      out.write(g)
    }

    def close(): Unit = if (out != null) out.close()

    /** best-effort: close and delete whatever was written */
    def abort(): Unit = if (out != null) {
      try out.close() catch { case _: Throwable => }
      try file.getFileSystem(new Configuration()).delete(file, false)
      catch { case _: Throwable => }
    }
  }
}
