package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call into an engine layer, recorded from the benchmark side. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. Spans nest by call
  * order, so a span's children are sequential and their durations add up to
  * the part of the parent they cover.
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var enabled = false
  /** operation id stamped on new spans (-1 outside the timed window) */
  var op = -1

  /** runs `f` and returns its duration; when enabled, records it as a span */
  def timed[A](layer: String, name: String)(f: => A): (A, Long) = {
    val rec = enabled
    val id = nextId
    val parent = open.headOption.getOrElse(-1)
    if (rec) { nextId += 1; open = id :: open }
    val t0 = System.nanoTime()
    val a = try f finally if (rec) open = open.tail
    val t1 = System.nanoTime()
    if (rec) spans += Span(id, parent, op, layer, name, t0, t1)
    (a, t1 - t0)
  }

  def span[A](layer: String, name: String)(f: => A): A = timed(layer, name)(f)._1

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** per layer: summed span time minus the time of each span's direct children */
  def selfNsByLayer: Seq[(String, Long)] = {
    val covered = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.groupBy(_.layer).toSeq.map { case (layer, ss) =>
      layer -> ss.map(s => s.durNs - covered.getOrElse(s.id, 0L)).sum
    }.sortBy(-_._2)
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""layer":"${s.layer}","name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Attributes Spark stages to benchmark operations through a job-local
  * property. A stage is its job's result stage when it has the job's highest
  * stage id (the scheduler creates parent stages first); every other stage of
  * a job is a shuffle-map stage.
  */
final class StageListener extends SparkListener {
  import StageListener._

  final case class StageRec(op: Int, result: Boolean, wallMs: Long, tasks: Int,
      runMs: Long, cpuNs: Long, shuffleWriteBytes: Long)

  private val stageOwner = new ConcurrentHashMap[Integer, (Int, Boolean)]()
  private val recs = new ConcurrentLinkedQueue[StageRec]()
  private val sentinelJobs = ConcurrentHashMap.newKeySet[Integer]()
  private val sentinelsDone = new AtomicInteger(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("-1")
    if (tag == Sentinel) sentinelJobs.add(e.jobId)
    else {
      val last = if (e.stageIds.isEmpty) -1 else e.stageIds.max
      e.stageIds.foreach(s => stageOwner.put(s, (tag.toInt, s == last)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (sentinelJobs.contains(e.jobId)) sentinelsDone.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val (op, result) = Option(stageOwner.get(si.stageId)).getOrElse((-1, false))
    val tm = si.taskMetrics
    val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
    recs.add(StageRec(op, result, wall, si.numTasks,
      if (tm == null) 0L else tm.executorRunTime,
      if (tm == null) 0L else tm.executorCpuTime,
      if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten))
  }

  /** Blocks until every event posted before the call has reached this
    * listener: a one-task sentinel job's end event is queued behind them.
    */
  def drain(sc: SparkContext): Unit = {
    val target = sentinelsDone.get() + 1
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, Sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(OpKey, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sentinelsDone.get() < target && System.nanoTime() < deadline) Thread.sleep(5)
    require(sentinelsDone.get() >= target, "Spark listener events did not drain within 30 s")
  }

  def stages: Seq[StageRec] = recs.asScala.toSeq
}

object StageListener {
  val OpKey = "graftbench.op"
  val Sentinel = "sentinel"
}
