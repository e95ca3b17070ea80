package graftbench

import graft.datasource.GraftDataSource
import graft.engine.{Checkpoint, Decoder, Encoder}
import graft.gen.DataGen
import graft.verify.Sha256Check
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear-interpolated quantile; 0 for an empty sample */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Engine benchmark: one closed-loop client drives one operation type per
  * workload against the engine's public API and checks every answer.
  *
  *   ingest  Checkpoint.encodeResumable of a materialised DataGen slice
  *   scan    full 5-column DSv2 read folded into an order-independent digest
  *   lookup  selective DSv2 queries (path =, commit =, commit IN) from a
  *           seeded mix that repeats identically on every run
  *
  * Prints human-readable lines, then one JSON line: the end-to-end metrics
  * (untraced run) or the per-layer metrics (traced run). See
  * perfbench/README.md for the metric definitions.
  */
object EngineBench {
  val Cols = Seq("repo", "path", "commit", "lang", "content")
  val SortKeys = Seq("repo", "path", "commit")

  object Layer {
    val Bench = "bench"
    val Engine = "graft.engine"
    val Datasource = "graft.datasource"
    val Codec = "graft.codec"
    val Stats = "graft.stats"
    val Plan = "graft.plan"
    val Verify = "graft.verify"
  }

  val IngestRows = 48000L
  /** The DSv2 writer clusters on repo and cuts a block group at 32 MiB of
    * raw bytes. Repo sizes are Zipf-skewed, so one partition holds over half
    * of the bytes whatever the partition count; with 2 partitions of a
    * 180k-row (~236 MiB) store every read task spans at least 3 groups.
    */
  val StoreRows = 180000L
  val StoreParts = 2
  val SetupReps = 3
  val LookupsPerKind = 16
  /** path = present, the point lookup by the unique key, comes twice per
    * round: the median of the mix then falls inside that kind's latencies,
    * not in the gap between two kinds, where it would jump between seeds
    */
  val LookupMix: Int = 5 * LookupsPerKind

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      selfTest: Boolean, cores: Int, work: String, traceDir: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("self-test").contains("1"), need("cores").toInt,
      need("work"), need("trace-dir"))
  }

  // ---- digest: order-independent, additive over disjoint row sets --------

  type Digest = Vector[Long]

  /** per row and column: the UTF-8 byte length and the top 40 bits of
    * xxhash64 (40 bits keep the sums far from overflow)
    */
  val digestTerms: Seq[Column] = Cols.flatMap(c =>
    Seq(octet_length(col(c)).cast("long"), shiftrightunsigned(xxhash64(col(c)), 24)))

  /** the digest as a plain Spark aggregate: row count, then the summed terms */
  val digestAggs: Seq[Column] = count(lit(1)) +: digestTerms.map(sum)

  def digestOf(r: Row): Digest =
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).toVector

  /** the digest of the engine reads: folded inside each read task and summed
    * by the client, so a read is one stage with no exchange
    */
  def foldPartition(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Iterator[Array[Long]] = {
    val acc = new Array[Long](1 + 2 * Cols.length)
    rows.foreach { r =>
      acc(0) += 1
      var i = 0
      while (i < acc.length - 1) { if (!r.isNullAt(i)) acc(i + 1) += r.getLong(i); i += 1 }
    }
    Iterator(acc)
  }

  def plus(a: Digest, b: Digest): Digest = a.zip(b).map { case (x, y) => x + y }

  val zero: Digest = Vector.fill(1 + 2 * Cols.length)(0L)

  def rawBytes(d: Digest): Long = Cols.indices.map(c => d(1 + 2 * c)).sum

  // ---- host diagnostics ---------------------------------------------------

  /** (steal, total) jiffies of the all-CPU line of /proc/stat */
  private def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").tail.map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** JDK-only CPU yardstick: SHA-256 over 1 MiB, MB/s */
  private val probeBuf = Array.tabulate[Byte](1 << 20)(i => (i * 31 + 7).toByte)
  private def probeMbps(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    md.update(probeBuf)
    md.digest()
    probeBuf.length * 1e3 / (System.nanoTime() - t0)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap occupancy left after each collection, from GC notifications: the
    * per-operation peak is the largest such value while the operation ran.
    */
  private object HeapPeak {
    @volatile var armed = false
    private val peak = new java.util.concurrent.atomic.AtomicLong(-1L)
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum
            peak.accumulateAndGet(used, math.max)
          }
        }, null, null)
      case _ =>
    }
    /** starts a new operation's peak */
    def reset(): Unit = peak.set(-1L)
    /** the running operation's peak in MB, if a collection ran during it */
    def mb: Option[Double] = Some(peak.get).filter(_ >= 0).map(_ / 1048576.0)
  }

  // ---- workloads ----------------------------------------------------------

  /** One operation type. `prepare` runs untimed before operation i; `run`
    * is the timed call and returns whether its output passed the check.
    */
  trait Workload {
    def storeDir: String
    def warmupOps: Int
    def prepare(i: Int): Unit = ()
    /** `wrong` feeds a deliberately wrong expected value (the self-test) */
    def run(i: Int, wrong: Boolean): Boolean
    /** untimed checks after the window */
    def postCheck(): Boolean = true
    /** replay input: the generated rows this workload stores */
    def input: DataFrame
    /** digest of every stored row, computed with plain Spark from the input;
      * its raw bytes are the bytes one operation covers (for lookup, the
      * store it answers over)
      */
    def inputDigest: Digest
    def lookups: Seq[Replay.Lookup] = Nil
    /** operation kind of operation i, for the per-kind latency line */
    def kind(i: Int): String = "op"
  }

  private def rmrf(path: String): Unit = {
    val p = new java.io.File(path)
    if (p.exists()) org.apache.commons.io.FileUtils.deleteDirectory(p)
  }

  private def dirBytes(path: String): Long = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try it.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      // Hadoop's local checksum sidecars are a file-system artefact, not store bytes
      .filterNot(p => p.getFileName.toString.endsWith(".crc"))
      .map(p => java.nio.file.Files.size(p)).sum
    finally it.close()
  }

  /** the digest with its row count off by one */
  def offByOne(d: Digest): Digest = d.updated(0, d(0) + 1)

  final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
    /** DSv2 input partitions planned per traced operation */
    val partitionsPlanned: ArrayBuffer[(Int, Int)] = ArrayBuffer.empty
    val parts: Int = 2 * args.cores
    /** engine encode config of the ingest workload and the encode replay */
    val encodeCfg: Encoder.EncodeConfig =
      Encoder.EncodeConfig(numPartitions = parts, blockRows = 4096)

    def genCfg(rows: Long) = DataGen.GenConfig(rows = rows, seed = args.seed, parts = parts)

    /** generate and materialise `rows` DataGen rows as parquet */
    def materialise(rows: Long, dir: String): DataFrame = {
      rmrf(dir)
      DataGen.table(spark, genCfg(rows)).write.parquet(dir)
      spark.read.parquet(dir)
    }

    /** the same fold computed with plain Spark over the generated input */
    def plainDigest(df: DataFrame): Digest = digestOf(df.agg(digestAggs.head, digestAggs.tail: _*).collect()(0))

    /** one DSv2 read, planning and execution timed apart */
    def dsv2Digest(df: DataFrame): Digest = {
      val q = df.select(digestTerms: _*)
      val plan = tracer.span(Layer.Datasource, "executedPlan")(q.queryExecution.executedPlan)
      if (tracer.enabled) partitionsPlanned += ((tracer.op, plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions.size
      }.sum))
      tracer.span(Layer.Datasource, "execute") {
        q.queryExecution.toRdd.mapPartitions(foldPartition).collect()
      }.map(_.toVector).foldLeft(zero)(plus)
    }
  }

  /** Each workload's set-up writes under its own `dir`. */
  final class Ingest(ctx: Ctx, dir: String) extends Workload {
    import ctx._
    val input: DataFrame = materialise(IngestRows, s"$dir/input")
    val inputDigest: Digest = plainDigest(input)
    private val rawSlice = rawBytes(inputDigest)
    val warmupOps = 12
    private var last = -1
    private def store(i: Int) = s"$dir/store-${i % 2}"
    def storeDir: String = store(last)

    override def prepare(i: Int): Unit = rmrf(store(i))

    def run(i: Int, wrong: Boolean): Boolean = {
      val r = tracer.span(Layer.Engine, "Checkpoint.encodeResumable") {
        Checkpoint.encodeResumable(input, Cols, SortKeys, encodeCfg, store(i),
          s"enginebench-ingest-seed${args.seed}")
      }
      last = i
      val wantRows = if (wrong) IngestRows + 1 else IngestRows
      r.rowCount == wantRows && r.rawBytes == rawSlice && r.skippedParts == 0
    }

    override def postCheck(): Boolean = {
      val blocks = Replay.blockTable(spark, Checkpoint.blocksDir(storeDir))
      val bad = tracer.span(Layer.Verify, "Sha256Check.mismatchGroups") {
        Sha256Check.mismatchGroups(input.select(Cols.map(col): _*), Decoder.decode(blocks, Cols), Cols)
      }
      println(s"[check] ingest store decoded with Decoder.decode: sha256 mismatch groups = $bad")
      bad == 0
    }
  }

  /** Scan and lookup share the store: built by the DSv2 writer in set-up. */
  abstract class StoreWorkload(ctx: Ctx, dir: String) extends Workload {
    import ctx._
    val input: DataFrame = materialise(StoreRows, s"$dir/input")
    val storeDir: String = s"$dir/store"
    input.write.format("graft").option("sortKeys", SortKeys.mkString(","))
      .option("numPartitions", StoreParts.toString).mode("overwrite").save(storeDir)
    val inputDigest: Digest = plainDigest(input)
    def read(): DataFrame = tracer.span(Layer.Datasource, "load")(spark.read.format("graft").load(storeDir))
  }

  final class Scan(ctx: Ctx, dir: String) extends StoreWorkload(ctx, dir) {
    val warmupOps = 3
    def run(i: Int, wrong: Boolean): Boolean =
      ctx.dsv2Digest(read()) == (if (wrong) offByOne(inputDigest) else inputDigest)
  }

  final class Lookup(ctx: Ctx, dir: String) extends StoreWorkload(ctx, dir) {
    import ctx._
    private val rng = new java.util.SplittableRandom(args.seed * 0x9e3779b97f4a7c15L + 17)
    private val gen = genCfg(StoreRows)
    private def row(i: Long) = DataGen.row(i, gen)
    private def anyRow() = row(rng.nextLong(StoreRows))
    private def commits(n: Int): Seq[String] = {
      val s = scala.collection.mutable.LinkedHashSet.empty[String]
      while (s.size < n) s += anyRow().commit
      s.toSeq
    }
    // absent paths come from row ids past the input: same shape, never stored
    private val mix: Seq[Replay.Lookup] = {
      val qs = (0 until LookupsPerKind).flatMap(_ => Seq(
        Replay.Lookup("path_present", "path", Seq(anyRow().path)),
        Replay.Lookup("path_present", "path", Seq(anyRow().path)),
        Replay.Lookup("path_absent", "path", Seq(row(StoreRows + 1 + rng.nextLong(StoreRows)).path)),
        Replay.Lookup("commit_present", "commit", Seq(anyRow().commit)),
        Replay.Lookup("commit_in8", "commit", commits(8))))
      val a = qs.toArray
      var k = a.length - 1
      while (k > 0) { val j = rng.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t; k -= 1 }
      a.toSeq
    }
    override def lookups: Seq[Replay.Lookup] = mix
    override def kind(i: Int): String = mix(i % mix.length).kind

    private def groupDigests(column: String, keys: Seq[String]): Map[String, Digest] =
      input.where(col(column).isin(keys.distinct: _*)).groupBy(col(column))
        .agg(digestAggs.head, digestAggs.tail: _*).collect()
        .map(r => r.getString(0) -> digestOf(Row.fromSeq(r.toSeq.tail))).toMap

    private val expected: Seq[Digest] = {
      val byPath = groupDigests("path", mix.filter(_.column == "path").flatMap(_.values))
      val byCommit = groupDigests("commit", mix.filter(_.column == "commit").flatMap(_.values))
      mix.map { q =>
        val m = if (q.column == "path") byPath else byCommit
        q.values.map(v => m.getOrElse(v, zero)).reduce(plus)
      }
    }
    val warmupOps: Int = mix.length

    def run(i: Int, wrong: Boolean): Boolean = {
      val q = mix(i % mix.length)
      val df = read()
      val filtered = if (q.values.length == 1) df.where(col(q.column) === q.values.head)
                     else df.where(col(q.column).isin(q.values: _*))
      val want = expected(i % mix.length)
      dsv2Digest(filtered) == (if (wrong) offByOne(want) else want)
    }
  }

  // ---- main ---------------------------------------------------------------

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-enginebench")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  private def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ") +
      "}}"

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    HeapPeak.install()
    val tracer = new Tracer
    val spark = session(a)
    val listener = if (a.trace) Some(new StageListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, a, tracer)
    val sc = spark.sparkContext

    // set-up, repeated: generation, materialisation, store build, expectations
    val repS = ArrayBuffer.empty[Double]
    var w: Workload = null
    for (rep <- 0 until SetupReps) {
      if (rep > 0) rmrf(s"${a.work}/setup-${rep - 1}")
      if (listener.isDefined) sc.setLocalProperty(StageListener.OpKey, (-2 - rep).toString)
      val dir = s"${a.work}/setup-$rep"
      val t0 = System.nanoTime()
      w = a.workload match {
        case "ingest" => new Ingest(ctx, dir)
        case "scan" => new Scan(ctx, dir)
        case "lookup" => new Lookup(ctx, dir)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      repS += (System.nanoTime() - t0) / 1e9
    }
    sc.setLocalProperty(StageListener.OpKey, null)

    val tw = System.nanoTime()
    var warmOk = true
    for (i <- 0 until w.warmupOps) {
      w.prepare(i)
      warmOk &= (try w.run(i, wrong = false) catch { case e: Exception => e.printStackTrace(); false })
    }
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(repS.toSeq) + warmS
    System.gc()

    // the timed window: one client, next operation after the previous one
    val lat = ArrayBuffer.empty[(Int, Double, Boolean, String)] // (op, ms, traced, kind)
    val gcMsPerOp = ArrayBuffer.empty[Long]
    val heapPerOp = ArrayBuffer.empty[Double]
    val probes = ArrayBuffer(probeMbps())
    var failed = 0
    val (steal0, total0) = cpuJiffies()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var lastProbe = System.nanoTime()
    var i = 0
    while (System.nanoTime() < deadline) {
      val op = w.warmupOps + i
      w.prepare(op)
      // every other operation is traced; the parity flips after each pass of
      // the lookup mix, so the traced half never meets only half the queries
      val traced = a.trace && (i + i / LookupMix) % 2 == 1
      tracer.enabled = traced
      tracer.op = i
      if (traced) sc.setLocalProperty(StageListener.OpKey, i.toString)
      val g0 = gcMs()
      HeapPeak.reset()
      HeapPeak.armed = true
      val (ok, ns) = tracer.timed(Layer.Bench, "op") {
        try w.run(op, wrong = a.selfTest && i == 0)
        catch { case e: Exception => e.printStackTrace(); false }
      }
      HeapPeak.armed = false
      HeapPeak.mb.foreach(heapPerOp += _)
      if (traced) { gcMsPerOp += gcMs() - g0; sc.setLocalProperty(StageListener.OpKey, null) }
      tracer.enabled = false
      if (!ok) failed += 1
      lat += ((i, ns / 1e6, traced, w.kind(op)))
      // between operations, once a second: the host probe, and a full
      // collection so that the post-collection peaks of the next operations
      // measure what they retain, not old garbage promoted earlier
      if (System.nanoTime() - lastProbe > 1000000000L) {
        probes += probeMbps()
        System.gc()
        lastProbe = System.nanoTime()
      }
      i += 1
    }
    val (steal1, total1) = cpuJiffies()
    probes += probeMbps()
    val stealPct = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    val attempted = lat.length

    tracer.enabled = a.trace
    tracer.op = -1
    val postOk = w.postCheck()
    val raw = rawBytes(w.inputDigest)
    val sizeRatio = raw.toDouble / dirBytes(w.storeDir)
    val untracedMs = lat.filterNot(_._3).map(_._2).toSeq
    val p50 = Stats.median(untracedMs)
    var rddOk = true

    println(f"[bench] workload=${a.workload} seed=${a.seed} local[${a.cores}] ops=$attempted failed=$failed " +
      f"warmup_ok=$warmOk post_check_ok=$postOk")
    println(f"[bench] setup: session ${sessionS}%.3f s, set-up reps ${repS.map(x => f"$x%.3f").mkString("/")} s " +
      f"(median taken), warm-up ${w.warmupOps} ops ${warmS}%.3f s")
    val p90 = if (untracedMs.length >= 100) f"${Stats.quantile(untracedMs, 0.9)}%.3f ms"
              else s"not reported (n=${untracedMs.length} < 100)"
    println(f"[bench] op latency (n=${untracedMs.length}): p25 ${Stats.quantile(untracedMs, 0.25)}%.3f ms, " +
      f"p50 $p50%.3f ms, p75 ${Stats.quantile(untracedMs, 0.75)}%.3f ms, p90 $p90")
    val kinds = lat.filterNot(_._3).groupBy(_._4).toSeq.sortBy(_._1)
    if (kinds.length > 1) println("[bench] p50 by kind: " + kinds.map { case (k, xs) =>
      f"$k ${Stats.median(xs.map(_._2).toSeq)}%.1f ms (n=${xs.length})" }.mkString(", "))
    println(f"[host] steal_pct=$stealPct%.3f probe_mbps=${Stats.median(probes.toSeq)}%.1f (n=${probes.length})")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("op_p50_ms", p50, "ms"),
        ("throughput_mbps", raw / 1e6 / (p50 / 1e3), "MB/s"),
        ("size_ratio", sizeRatio, "ratio"),
        ("ok_rate", (attempted - failed).toDouble / math.max(1, attempted), "ratio"),
        ("peak_heap_mb", Stats.median(heapPerOp.toSeq), "MB"),
        ("setup_s", setupS, "s"))
      else {
        val l = listener.get
        l.drain(sc)
        val traced = lat.filter(_._3)
        val tracedOps = traced.map(_._1).toSet
        val stages = l.stages.filter(s => tracedOps.contains(s.op))
        def perOp(f: Seq[l.StageRec] => Double): Double = {
          val by = stages.groupBy(_.op)
          Stats.median(tracedOps.toSeq.map(o => f(by.getOrElse(o, Nil))))
        }
        val setupShuffle = Stats.median((0 until SetupReps).map(r =>
          l.stages.filter(s => s.op == -2 - r && !s.result).map(_.wallMs).sum / 1e3))
        val runMs = stages.map(_.runMs).sum
        val replay = Replay.encodeSide(w.input, ctx.encodeCfg, 16, tracer) ++
          Replay.decodeSide(spark, GraftDataSource.blocksDir(w.storeDir).toString, 8, tracer) ++
          Replay.storeMix(spark, GraftDataSource.blocksDir(w.storeDir).toString) ++
          Replay.pruneSide(spark, GraftDataSource.blocksDir(w.storeDir).toString, w.lookups, tracer)
        val blocks = Replay.blockTable(spark, GraftDataSource.blocksDir(w.storeDir).toString)
        val (rddDigest, rddNs) = tracer.timed(Layer.Engine, "Decoder.decode") {
          ctx.plainDigest(Decoder.decode(blocks, Cols))
        }
        rddOk = rddDigest == w.inputDigest
        // per traced operation: summed duration of the named spans
        def spanMs(names: String*): Double = {
          val by = names.flatMap(tracer.spansNamed).groupBy(_.op)
          Stats.median(tracedOps.toSeq.map(o => by.getOrElse(o, Nil).map(_.durNs / 1e6).sum))
        }
        val partsPlanned = Stats.median(ctx.partitionsPlanned.filter(p => tracedOps.contains(p._1)).map(_._2.toDouble).toSeq)
        println("[trace] self time by layer (ms): " + tracer.selfNsByLayer.map { case (k, v) => f"$k=${v / 1e6}%.1f" }.mkString(", "))
        tracer.write(new java.io.File(s"${a.traceDir}/trace-${a.workload}-seed${a.seed}.jsonl"))
        val overhead = 100.0 * (Stats.median(traced.map(_._2).toSeq) / p50 - 1.0)
        Seq(
          ("spark.shuffle_s", perOp(_.filterNot(_.result).map(_.wallMs).sum / 1e3), "s"),
          ("spark.shuffle_write_mb", perOp(_.map(_.shuffleWriteBytes).sum / 1e6), "MB"),
          ("spark.setup_shuffle_s", setupShuffle, "s"),
          ("spark.result_stage_s", perOp(_.filter(_.result).map(_.wallMs).sum / 1e3), "s"),
          ("spark.cpu_over_run", if (runMs == 0) 0.0 else stages.map(_.cpuNs).sum / 1e6 / runMs, "ratio"),
          ("spark.tasks", perOp(_.map(_.tasks).sum.toDouble), "count"),
          ("jvm.gc_s", Stats.median(gcMsPerOp.map(_ / 1e3).toSeq), "s"),
          ("datasource.plan_ms", spanMs("load", "executedPlan"), "ms"),
          ("datasource.execute_ms", spanMs("execute"), "ms"),
          ("datasource.partitions_planned", partsPlanned, "count"),
          ("engine.decode_rdd_s", rddNs / 1e9, "s"),
          ("host.steal_pct", stealPct, "%"),
          ("host.probe_mbps", Stats.median(probes.toSeq), "MB/s"),
          ("trace.overhead_pct", overhead, "%")
        ) ++ replay.toSeq.sortBy(_._1).map { case (k, v) => (k, v, unitOf(k)) }
      }
    val correct = failed == 0 && postOk && warmOk && rddOk
    if (!rddOk) println("[check] Decoder.decode digest disagrees with the input")
    println(json(correct, attempted, failed, metrics))
    spark.stop()
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_mbps")) "MB/s" else if (k.endsWith("_ms") || k.endsWith("_ms_per_block")) "ms"
    else if (k.endsWith("_us") || k.endsWith("_us_per_block")) "us"
    else if (k.startsWith("codec.mix.") || k.startsWith("prune.blocks")) "count" else "ratio"
}
