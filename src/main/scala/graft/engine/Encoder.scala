package graft.engine

import graft.model.{ColStats, EncodedBlock}
import graft.stats.BlockStats
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** The encode pass: hash partitioning on the sort keys, salted-key
  * splitting for skewed repos, then one BlockAccumulator per sorted
  * partition (per SURVEY.md §2.6: block encode over a sorted partition
  * beats any per-row UDF).
  *
  * Lifecycle mirrors the reference's two-pass encode archetype
  * (reference: parquet/IonToParquet.java:155-204 — inference pass, then
  * conversion pass): pass 1 is the first block of each partition, whose
  * exact stats drive the per-partition codec plan. BlockAccumulator is the
  * only block-encode loop; Checkpoint, the DSv2 batch write and the
  * streaming sink feed the same kernel, so every path writes the same
  * block bytes for the same sorted partition.
  */
object Encoder {

  final case class EncodeConfig(
      numPartitions: Int = 32,
      blockRows: Int = 65536,
      zstdLevel: Int = 3)

  /** cut a block early once its summed raw cell bytes reach this */
  val BlockBytes: Long = 32L << 20

  /** a key whose row count exceeds SkewFactor × (rows/partitions) gets
    * salted into ~target/4-row buckets — many small weighted groups
    * hash-balance far better than few target-sized ones
    */
  val SkewFactor = 0.5

  /** Fraction of rows the skew-plan pass reads (the sampling pass of the
    * north rule applied to skew detection; a repo only matters here when it
    * holds ≥ SkewFactor/numPartitions of ALL rows, which a 5% sample
    * estimates reliably).
    */
  val SkewSampleFraction = 0.05

  /** Per-repo salting plan: repo → number of salt buckets (only skewed repos).
    *
    * The heavy-hitter filter runs IN SPARK before any collect: at 100× scale
    * (millions of distinct repos) collecting one row per repo would OOM the
    * driver, but the set of keys holding > SkewFactor/numPartitions of all
    * rows is ≤ numPartitions/SkewFactor entries by construction — tiny.
    */
  def skewPlan(df: DataFrame, skewKey: String, cfg: EncodeConfig): Map[String, Int] = {
    val sampled = df.select(col(skewKey)).sample(SkewSampleFraction, seed = 42L)
    val counts = sampled.groupBy(col(skewKey)).agg(count(lit(1)).as("cnt")).persist()
    try {
      val totalRow = counts.agg(sum(col("cnt"))).first()
      if (totalRow.isNullAt(0)) return Map.empty
      val total = totalRow.getLong(0)
      val target = math.max(1L, total / math.max(1, cfg.numPartitions))
      val threshold = (SkewFactor * target).toLong
      counts
        .filter(col("cnt") > threshold && col(skewKey).isNotNull)
        .collect()
        .iterator
        .map(r => r.getString(0) ->
          math.ceil(r.getLong(1).toDouble / (target / 4.0)).toInt)
        .toMap
    } finally counts.unpersist()
  }

  /** Partition + sort the input so equal/nearby keys co-locate
    * (dictionaries and FSST tables train well on locality), splitting any
    * skewed first-key group across salt buckets.
    *
    * Hash partitioning on (skewKey, salt) — NOT repartitionByRange — because
    * range boundaries are sampled with an RDD-id-derived seed and therefore
    * differ between jobs; resumable encode requires the row→partition
    * mapping to be a pure function of the row. Same-key co-location (what
    * the codecs need) is preserved; within-partition runs come from
    * sortWithinPartitions.
    */
  def partitionInput(
      df: DataFrame,
      cols: Seq[String],
      sortKeys: Seq[String],
      cfg: EncodeConfig,
      precomputedSkew: Option[Map[String, Int]] = None): DataFrame = {
    val skewKey = sortKeys.head
    val restKeys = sortKeys.tail
    val bigRepos = precomputedSkew.getOrElse(skewPlan(df, skewKey, cfg))
    val saltCol =
      if (bigRepos.isEmpty) lit(0)
      else {
        val nb = coalesce(element_at(typedLit(bigRepos), col(skewKey)), lit(1))
        // pure function of the row (resume-safe). When the skew key is the
        // only sort key, hash every other column instead — xxhash64 needs
        // ≥1 argument and a constant salt wouldn't split the heavy group.
        val hashCols =
          if (restKeys.nonEmpty) restKeys.map(col)
          else {
            val others = df.columns.filterNot(_ == skewKey)
            if (others.nonEmpty) others.toSeq.map(col) else Seq(col(skewKey))
          }
        // pmod is already non-negative for negative hashes; an abs() here
        // would add nothing AND throw ARITHMETIC_OVERFLOW under ANSI mode
        // (Spark 4 default) on the 2^-64 row whose hash is Long.MinValue
        pmod(xxhash64(hashCols: _*), nb).cast("int")
      }
    val orderCols = col(skewKey) +: col("__salt") +: restKeys.map(col)
    df.withColumn("__salt", saltCol)
      .repartition(cfg.numPartitions, col(skewKey), col("__salt"))
      .sortWithinPartitions(orderCols: _*)
      // binary cast = the exact UTF-8 bytes, skipping String materialization
      // in the encoder hot loop (cast is codegen'd on the UTF8String)
      .select(cols.map(c => col(c).cast("binary").as(c)): _*)
  }

  /** Encode the given string columns of `df` into a Dataset of column blocks. */
  def encode(
      df: DataFrame,
      cols: Seq[String],
      sortKeys: Seq[String],
      cfg: EncodeConfig = EncodeConfig(),
      precomputedSkew: Option[Map[String, Int]] = None): Dataset[EncodedBlock] = {
    val partitioned = partitionInput(df, cols, sortKeys, cfg, precomputedSkew)
    encodePartitioned(partitioned, cols, cfg)
  }

  /** Encode an already-partitioned/sorted projection (column order == cols).
    *
    * Drains the plan as InternalRows (queryExecution.toRdd) instead of
    * Dataset.mapPartitions: the external-Row deserializer layer
    * (DeserializeToObject + GenericRow per row) is pure overhead for a
    * loop that only reads binary cells (EncodeBreakdown's `rowconv` delta
    * measures this layer).
    */
  def encodePartitioned(
      partitioned: DataFrame,
      cols: Seq[String],
      cfg: EncodeConfig): Dataset[EncodedBlock] = {
    val colNames = cols.toArray
    val rdd = partitioned.queryExecution.toRdd.mapPartitions { rows =>
      new BlockAccumulator(colNames, TaskContext.getPartitionId(), cfg.blockRows,
        cfg.zstdLevel).drain(rows)
    }
    partitioned.sparkSession.createDataset(rdd)(Encoders.product[EncodedBlock])
  }

  /** The standalone sampled statistics pass, exposed as a first-class job:
    * per-(partition, column) ColStats over a bounded per-partition sample.
    */
  def statsPass(
      partitioned: DataFrame,
      cols: Seq[String],
      sampleRows: Int = 8192): Dataset[ColStats] = {
    val colNames = cols.toArray
    val spark = partitioned.sparkSession
    // InternalRow drain, same rationale as encodePartitioned
    val rdd = partitioned.queryExecution.toRdd.mapPartitions { rows =>
      val partId = TaskContext.getPartitionId()
      val bufs = Array.fill(colNames.length)(
        scala.collection.mutable.ArrayBuffer.empty[Array[Byte]])
      var n = 0
      while (rows.hasNext && n < sampleRows) {
        val r = rows.next()
        var c = 0
        while (c < colNames.length) {
          bufs(c) += (if (r.isNullAt(c)) null else r.getBinary(c))
          c += 1
        }
        n += 1
      }
      colNames.indices.iterator.map { c =>
        BlockStats.compute(colNames(c), partId, bufs(c).toArray)
      }
    }
    spark.createDataset(rdd)(Encoders.product[ColStats])
  }
}
