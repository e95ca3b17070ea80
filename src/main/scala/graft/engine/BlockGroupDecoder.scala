package graft.engine

import graft.datasource.{GraftPred, GraftPruning}
import graft.model.EncodedBlock

/** The one block-group decode kernel: `Decoder.decode`, `Decoder.decodeWhereEq`
  * and the DSv2 readers only group blocks and hand each group here. Built
  * once per task from the required columns and the pushed predicates; for
  * one group (`colName → EncodedBlock`) it
  *   1. checks integrity: every needed column present, all agreeing on
  *      rowCount (no graft writer emits a partial group — a gap is
  *      corruption, and corruption fails loudly);
  *   2. prunes on the min/max value prefixes (`GraftPruning.blockMayMatch`),
  *      then probes eq / In values via `BlockCodec.mayContain[Any]` — no
  *      payload decoded;
  *   3. decodes the filter columns first and matches rows (eq by bytes, In
  *      through a hashed set);
  *   4. late-materializes the required columns for the matching rows only.
  * Any failure surfaces as one [[BlockGroupDecoder.UndecodableGroupException]]
  * naming the group; callers with a bad-block policy catch exactly that.
  * Other predicate kinds only prune: Spark re-checks them as residuals.
  */
final class BlockGroupDecoder(requiredCols: Array[String], preds: Seq[GraftPred]) {
  import BlockGroupDecoder._

  /** the columns a group must carry: required ones, then filter columns */
  val neededCols: Array[String] = (requiredCols ++ preds.map(_.col)).distinct

  private val eqs: Seq[(String, Array[Byte])] =
    preds.collect { case GraftPred("eq", c, v, _) => c -> utf8(v) }

  // probe values held as ARRAYS and row sets hashed once per task: a
  // runtime join-key In-set can hold thousands of values, probed per group
  private final class InProbe(val col: String, vs: Seq[String]) {
    val values: Array[Array[Byte]] = vs.map(utf8).toArray
    val set = new java.util.HashSet[java.nio.ByteBuffer](values.length * 2)
    values.foreach(v => set.add(java.nio.ByteBuffer.wrap(v)))
  }
  private val ins: Seq[InProbe] =
    preds.collect { case GraftPred("in", c, _, vs) => new InProbe(c, vs) }

  /** Decode one group identified by (partId, blockIdx[, file]): null when it
    * is pruned or no row matches, else the matching row ids and the
    * required columns' values in `requiredCols` order.
    */
  def decode(group: scala.collection.Map[String, EncodedBlock], partId: Int,
      blockIdx: Int, file: String = null): Matched =
    try decodeGroup(group)
    catch {
      case scala.util.control.NonFatal(e) =>
        val where = s"partId=$partId, blockIdx=$blockIdx" +
          (if (file == null) "" else s", file=$file")
        throw new UndecodableGroupException(
          s"undecodable block group ($where): ${e.getMessage}", e)
    }

  private def decodeGroup(group: scala.collection.Map[String, EncodedBlock]): Matched = {
    def block(c: String): EncodedBlock = group.getOrElse(c,
      throw new IllegalStateException(
        s"missing column block '$c' (have ${group.keys.toSeq.sorted.mkString(",")})"))
    // a count-shaped read needs no column: any block's rowCount is the group's
    val n =
      if (neededCols.isEmpty) group.valuesIterator.next().rowCount
      else block(neededCols(0)).rowCount
    neededCols.foreach { c =>
      if (block(c).rowCount != n)
        throw new IllegalStateException(
          s"column '$c' has ${block(c).rowCount} rows but '${neededCols(0)}' has $n")
    }

    if (preds.exists(p => !GraftPruning.blockMayMatch(p, block(p.col).minPrefix,
        block(p.col).maxPrefix))) return null
    if (eqs.exists { case (c, v) => !BlockCodec.mayContain(block(c), v) }) return null
    if (ins.exists(p => !BlockCodec.mayContainAny(block(p.col), p.values))) return null

    val decoded = scala.collection.mutable.HashMap.empty[String, Array[Array[Byte]]]
    def values(c: String): Array[Array[Byte]] = decoded.getOrElseUpdate(c, {
      val d = BlockCodec.decodeBlock(block(c))
      if (d.length != n)
        throw new IllegalStateException(s"column '$c' decoded ${d.length} rows, expected $n")
      d
    })
    var rows = Array.range(0, n)
    eqs.foreach { case (c, v) =>
      val d = values(c)
      rows = rows.filter(i => d(i) != null && java.util.Arrays.equals(d(i), v))
    }
    ins.foreach { p =>
      val d = values(p.col)
      rows = rows.filter(i => d(i) != null && p.set.contains(java.nio.ByteBuffer.wrap(d(i))))
    }
    if (rows.isEmpty) null else Matched(rows, requiredCols.map(values))
  }
}

object BlockGroupDecoder {

  /** matching row ids of a group and the required columns' decoded values */
  final case class Matched(rows: Array[Int], values: Array[Array[Array[Byte]]])

  /** a block group that cannot be decoded; the message names the group */
  final class UndecodableGroupException(msg: String, cause: Throwable)
      extends IllegalStateException(msg, cause)

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
}
