package graftbench

import graft.codec.{ByteReader, Codec, Fsst, Wrap}
import graft.datasource.{GraftPred, GraftPruning}
import graft.engine.{BlockCodec, Encoder}
import graft.model.{CodecId, EncodedBlock, WrapId}
import graft.plan.CodecSelector
import graft.stats.BlockStats
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Per-layer replay for the traced run: the benchmark calls each layer's
  * public function itself, single-threaded in the client, on the workload's
  * own data, inside spans. The engine's Spark jobs run these same functions
  * inside tasks, where a span from outside cannot reach.
  */
object Replay {
  import EngineBench.{Cols, Layer}

  /** every codec id, for the exact block-count mix */
  val MixCodecs: Seq[String] = (0 to 6).map(i => CodecId.name(i.toByte))
  /** codecs the selector picks on this corpus: their rates and ratios */
  val RateCodecs: Seq[String] = Seq("plain", "dict", "dictrle", "fsst")

  private def mbps(bytes: Long, ns: Long): Double = if (ns <= 0) 0.0 else bytes * 1e3 / ns

  /** The store's block table as EncodedBlock rows; the DSv2 writer stores
    * the byte-sized ids as int32, hence the casts.
    */
  def blockTable(spark: SparkSession, blocksDir: String): Dataset[EncodedBlock] =
    spark.read.parquet(blocksDir).select(
      col("colName"), col("partId").cast("int"), col("blockIdx").cast("int"),
      col("codecId").cast("tinyint"), col("wrapId").cast("tinyint"),
      col("rowCount").cast("int"), col("rawBytes").cast("long"),
      col("encodedBytes").cast("long"), col("minPrefix"), col("maxPrefix"), col("data"))
      .as(Encoders.product[EncodedBlock])

  /** Encode side, mirroring the engine's partition encoder: the input is
    * partitioned and sorted by `Encoder.partitionInput`, cut into blocks of
    * `cfg.blockRows` rows per partition, and each partition's first block
    * fixes the codec plan and trains its FSST tables. Stats and selection run
    * on every replayed block to give more samples of those two kernels.
    */
  def encodeSide(input: DataFrame, cfg: Encoder.EncodeConfig, maxBlocks: Int,
      tracer: Tracer): Map[String, Double] = {
    val parted = Encoder.partitionInput(input, Cols, EngineBench.SortKeys, cfg)
      .withColumn("__pid", spark_partition_id())
    val statsNs, selectNs, encodeNs = mutable.ArrayBuffer.empty[Long]
    val trainNs = mutable.ArrayBuffer.empty[Long]
    val codecRaw, codecNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var wrapsTried, wrapsKept = 0
    var blocks = 0

    def encodeGroup(pid: Int, bidx: Int, rows: Seq[Array[Array[Byte]]],
        plan: Array[Codec], tables: Array[Fsst.Table]): Unit = {
      var enc = 0L
      Cols.indices.foreach { c =>
        val (b, ns) = tracer.timed(Layer.Engine, "BlockCodec.encodeBlock") {
          BlockCodec.encodeBlock(Cols(c), pid, bidx, rows(c), plan(c), cfg.zstdLevel, tables(c))
        }
        enc += ns
        val name = CodecId.name(b.codecId)
        codecRaw(name) += b.rawBytes
        codecNs(name) += ns
        val hdr = new ByteReader(b.data)
        val flen = hdr.readVarInt()
        val containerLen = b.data.length - hdr.position - flen
        if (b.wrapId != WrapId.None || containerLen >= BlockCodec.WrapAttemptMinBytes) {
          wrapsTried += 1
          if (b.wrapId != WrapId.None) wrapsKept += 1
        }
      }
      encodeNs += enc
    }

    val it = parted.toLocalIterator()
    var pid = -1
    var bidx = 0
    var plan: Array[Codec] = null
    var tables: Array[Fsst.Table] = null
    val buf = Array.fill(Cols.length)(mutable.ArrayBuffer.empty[Array[Byte]])
    def flush(): Unit = if (buf(0).nonEmpty && blocks < maxBlocks) {
      val vals = buf.map(_.toArray).toSeq
      var s, sel = 0L
      val statsPlan = Cols.indices.map { c =>
        val (st, ns1) = tracer.timed(Layer.Stats, "BlockStats.compute")(BlockStats.compute(Cols(c), pid, vals(c)))
        val (codec, ns2) = tracer.timed(Layer.Plan, "CodecSelector.select")(CodecSelector.select(st))
        s += ns1; sel += ns2
        codec
      }.toArray
      statsNs += s; selectNs += sel
      if (plan == null) {
        plan = statsPlan
        tables = new Array[Fsst.Table](Cols.length)
        var t = 0L
        Cols.indices.foreach { c =>
          if (plan(c) eq Fsst) {
            val (syms, ns) = tracer.timed(Layer.Codec, "Fsst.train")(Fsst.train(vals(c).filter(_ != null)))
            tables(c) = new Fsst.Table(syms)
            t += ns
          }
        }
        if (plan.exists(_ eq Fsst)) trainNs += t
      }
      encodeGroup(pid, bidx, vals, plan, tables)
      blocks += 1
      bidx += 1
      buf.foreach(_.clear())
    }
    while (it.hasNext && blocks < maxBlocks) {
      val r = it.next()
      val p = r.getInt(Cols.length)
      if (p != pid) { flush(); pid = p; bidx = 0; plan = null }
      Cols.indices.foreach(c => buf(c) += r.getAs[Array[Byte]](c))
      if (buf(0).length >= cfg.blockRows) flush()
    }
    flush()

    Map(
      "stats.compute_ms_per_block" -> Stats.median(statsNs.map(_ / 1e6).toSeq),
      "plan.select_us_per_block" -> Stats.median(selectNs.map(_ / 1e3).toSeq),
      "codec.fsst_train_ms_per_block" -> Stats.median(trainNs.map(_ / 1e6).toSeq),
      "engine.encode_block_ms" -> Stats.median(encodeNs.map(_ / 1e6).toSeq),
      "codec.wrap_kept_ratio" -> (if (wrapsTried == 0) 0.0 else wrapsKept.toDouble / wrapsTried)
    ) ++ RateCodecs.map(n => s"codec.$n.encode_mbps" -> mbps(codecRaw(n), codecNs(n)))
  }

  /** Decode side over the store's first `maxGroups` block groups: the whole
    * `decodeBlock` per column, and `Wrap.decompress` alone on the same block.
    */
  def decodeSide(spark: SparkSession, blocksDir: String, maxGroups: Int,
      tracer: Tracer): Map[String, Double] = {
    val table = blockTable(spark, blocksDir)
    val groups = table.select("partId", "blockIdx").distinct()
      .orderBy("partId", "blockIdx").limit(maxGroups).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val blocks = table.where(groups.map { case (p, i) =>
      col("partId") === p && col("blockIdx") === i }.reduce(_ || _)).collect()
    val codecRaw, codecNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var wrapBytes, wrapNs = 0L
    val groupNs = blocks.groupBy(b => (b.partId, b.blockIdx)).toSeq.sortBy(_._1).map { case (_, bs) =>
      bs.map { b =>
        val (_, ns) = tracer.timed(Layer.Engine, "BlockCodec.decodeBlock")(BlockCodec.decodeBlock(b))
        codecRaw(CodecId.name(b.codecId)) += b.rawBytes
        codecNs(CodecId.name(b.codecId)) += ns
        if (b.wrapId != WrapId.None) {
          val hdr = new ByteReader(b.data)
          val flen = hdr.readVarInt()
          val (out, wns) = tracer.timed(Layer.Codec, "Wrap.decompress") {
            Wrap.decompress(b.wrapId, b.data, hdr.position + flen)
          }
          wrapBytes += out.length
          wrapNs += wns
        }
        ns
      }.sum
    }
    Map(
      "engine.decode_block_ms" -> Stats.median(groupNs.map(_ / 1e6)),
      "codec.wrap_decompress_mbps" -> mbps(wrapBytes, wrapNs)
    ) ++ RateCodecs.map(n => s"codec.$n.decode_mbps" -> mbps(codecRaw(n), codecNs(n)))
  }

  /** Codec mix (exact block counts) and per-codec raw ÷ encoded bytes over
    * the whole store.
    */
  def storeMix(spark: SparkSession, blocksDir: String): Map[String, Double] = {
    val perPart = blockTable(spark, blocksDir).groupBy("partId")
      .agg(countDistinct("blockIdx"), sum("rawBytes")).collect()
      .map(r => (r.getLong(1), r.getLong(2) >> 20)).sorted
    println(s"[trace] store: ${perPart.map(_._1).sum} block groups over ${perPart.length} " +
      s"partitions (groups/raw MiB per partition: ${perPart.map(p => s"${p._1}/${p._2}").mkString(", ")})")
    val rows = blockTable(spark, blocksDir).groupBy("codecId")
      .agg(count(lit(1)), sum("rawBytes"), sum("encodedBytes")).collect()
    val by = rows.map(r => CodecId.name(r.getByte(0)) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def of(n: String) = by.getOrElse(n, (0L, 0L, 0L))
    (MixCodecs.map(n => s"codec.mix.$n" -> of(n)._1.toDouble) ++ RateCodecs.map { n =>
      val (_, raw, enc) = of(n)
      s"codec.$n.ratio" -> (if (enc == 0) 0.0 else raw.toDouble / enc)
    }).toMap
  }

  /** A selective lookup: the column it filters and the values it matches. */
  final case class Lookup(kind: String, column: String, values: Seq[String]) {
    def pred: GraftPred =
      if (values.length == 1) GraftPred("eq", column, values.head)
      else GraftPred("in", column, null, values)
  }

  /** Block pruning replayed per distinct lookup: the min/max prefix rule and
    * the membership probe (`mayContain` / `mayContainAny`) decide which of
    * the filtered column's blocks a reader keeps; a kept block is useful
    * when its decoded values hold a match.
    */
  def pruneSide(spark: SparkSession, blocksDir: String, lookups: Seq[Lookup],
      tracer: Tracer): Map[String, Double] = {
    val byCol = blockTable(spark, blocksDir)
      .where(col("colName").isin(lookups.map(_.column).distinct: _*))
      .collect().groupBy(_.colName)
    val decoded = mutable.Map.empty[(String, Int, Int), Set[java.nio.ByteBuffer]]
    var total, kept, useful, probes = 0L
    var probeNs = 0L
    lookups.foreach { q =>
      val vs = q.values.map(_.getBytes("UTF-8")).toArray
      byCol.getOrElse(q.column, Array.empty[EncodedBlock]).foreach { b =>
        total += 1
        val keep = GraftPruning.blockMayMatch(q.pred, b.minPrefix, b.maxPrefix) && {
          val (may, ns) = tracer.timed(Layer.Engine, "BlockCodec.mayContain") {
            if (vs.length == 1) BlockCodec.mayContain(b, vs(0)) else BlockCodec.mayContainAny(b, vs)
          }
          probes += 1
          probeNs += ns
          may
        }
        if (keep) {
          kept += 1
          val present = decoded.getOrElseUpdate((b.colName, b.partId, b.blockIdx),
            BlockCodec.decodeBlock(b).iterator.filter(_ != null).map(java.nio.ByteBuffer.wrap).toSet)
          if (vs.exists(v => present.contains(java.nio.ByteBuffer.wrap(v)))) useful += 1
        }
      }
    }
    val n = math.max(1, lookups.length)
    Map(
      "prune.blocks_total" -> total.toDouble / n,
      "prune.blocks_kept" -> kept.toDouble / n,
      "prune.useful_ratio" -> (if (kept == 0) 0.0 else useful.toDouble / kept),
      "engine.may_contain_us" -> (if (probes == 0) 0.0 else probeNs / 1e3 / probes))
  }
}
