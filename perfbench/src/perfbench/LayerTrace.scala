package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Layer spans plus a listener that charges Spark work to them.
  *
  * Stage layers partition the traced interval: `mark(layer)` closes the span
  * running since the previous mark, so their walls sum to the traced time.
  * Nested layers (`io.store`, `eval.pairwise`) are opened and closed around a
  * call and overlap the stage layer they sit in.
  *
  * Each Spark job is charged, with the tasks of its stages, to every span
  * open when the job was submitted. The listener bus is asynchronous: read
  * `metrics` only after `Bridge.waitForListeners`.
  */
final class LayerTrace extends SparkListener {
  import LayerTrace._

  private val spans = ArrayBuffer.empty[Span]
  private var cursor: Mark = now()
  private val nested = scala.collection.mutable.Map.empty[String, (String, Mark)]

  // job id → (submitted ms, completed ms); -1 until the job ends
  private val jobs = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentHashMap[Int, ArrayBuffer[Task]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Array(e.time, -1L))
    // later jobs list a reused shuffle's stage again (skipped): first wins
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_(1) = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val buf = tasks.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Task])
      buf.synchronized {
        buf += Task(e.taskInfo.duration, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
      }
    }
  }

  private def now(): Mark = Mark(System.currentTimeMillis(), System.nanoTime(), gcMs())

  /** Restart the stage-layer timeline at this instant. */
  def start(): Unit = cursor = now()

  /** Close the stage-layer span running since the previous mark. */
  def mark(layer: String): Unit = {
    val t = now()
    spans += Span(layer, "", cursor, t)
    cursor = t
  }

  /** Open a nested span of `layer`; `tag` names what it covers. */
  def open(layer: String, tag: String = ""): Unit = nested(layer) = (tag, now())

  def close(layer: String): Unit =
    nested.remove(layer).foreach { case (tag, m) => spans += Span(layer, tag, m, now()) }

  def timed[T](layer: String, tag: String = "")(body: => T): T = {
    open(layer, tag)
    try body finally close(layer)
  }

  /** Total wall of `layer`'s spans, in seconds. */
  def wallS(layer: String): Double = seconds(spans.filter(_.layer == layer))

  /** Wall of `layer`'s spans tagged `tag`, in seconds. */
  def spanS(layer: String, tag: String): Double =
    seconds(spans.filter(s => s.layer == layer && s.tag == tag))

  private def seconds(ss: Iterable[Span]): Double = ss.map(s => s.to.ns - s.from.ns).sum / 1e9

  /** The per-layer metrics of `layer`, keyed `<layer>.<metric>`. */
  def metrics(layer: String): Seq[(String, Double)] = {
    val own = spans.filter(_.layer == layer).toSeq
    val allJobs = jobs.asScala.toSeq
    val charged = allJobs.collect {
      case (id, j) if own.exists(s => j(0) >= s.from.ms && j(0) < s.to.ms) => id
    }.toSet
    val busy = busyIntervals(allJobs.map(_._2))
    val busyMs = own.map(s => overlapMs(s.from.ms, s.to.ms, busy)).sum
    val stageTasks = stageJob.asScala.toSeq.collect {
      case (stage, job) if charged(job) && tasks.containsKey(stage) => tasks.get(stage).toSeq
    }
    val all = stageTasks.flatten
    val wall = wallS(layer)
    Seq(
      "wall_s" -> wall,
      "driver_s" -> math.max(0.0, wall - busyMs / 1e3),
      "jobs" -> charged.size.toDouble,
      "cpu_s" -> all.map(_.cpuNs).sum / 1e9,
      "gc_s" -> own.map(s => s.to.gcMs - s.from.gcMs).sum / 1e3,
      "shuffle_write_mb" -> all.map(_.shuffleBytes).sum / 1e6,
      "spill_mb" -> all.map(_.spillBytes).sum / 1e6,
      "task_skew" -> skew(stageTasks.map(_.map(_.durMs)))
    ).map { case (k, v) => s"$layer.$k" -> v }
  }
}

object LayerTrace {
  private final case class Mark(ms: Long, ns: Long, gcMs: Long)
  private final case class Span(layer: String, tag: String, from: Mark, to: Mark)
  private final case class Task(durMs: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long)

  /** Stage name in `Pipeline.run` → layer name. */
  val StageLayer: Map[String, String] = Map(
    "mentions" -> "app.mentions", "keyed" -> "link.keyed", "linked" -> "link.cascade",
    "scored" -> "scoring.pairs", "edges" -> "app.edges", "components" -> "cluster.cc",
    "clusters" -> "app.clusters")
  val Summary = "app.summary"
  /** The layers that partition `Pipeline.run`, in pipeline order. */
  val RunLayers: Seq[String] = Seq("app.mentions", "link.keyed", "link.cascade",
    "scoring.pairs", "app.edges", "cluster.cc", "app.clusters", Summary)
  val Store = "io.store"
  val Eval = "eval.pairwise"
  val Layers: Seq[String] = RunLayers ++ Seq(Store, Eval)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Union of the jobs' [submitted, completed] intervals, sorted, disjoint. */
  private def busyIntervals(jobs: Seq[Array[Long]]): Seq[(Long, Long)] =
    jobs.filter(_(1) >= 0).map(j => (j(0), j(1))).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  private def overlapMs(from: Long, to: Long, busy: Seq[(Long, Long)]): Long =
    busy.map { case (s, e) => math.max(0L, math.min(to, e) - math.max(from, s)) }.sum

  /** max ÷ median task time in the stage with the most task time; 0 when
    * the layer ran no tasks. */
  private def skew(stages: Seq[Seq[Long]]): Double =
    if (stages.isEmpty) 0.0
    else {
      val d = stages.maxBy(_.sum).sorted
      val n = d.length
      val median = if (n % 2 == 1) d(n / 2).toDouble else (d(n / 2 - 1) + d(n / 2)) / 2.0
      d.last / math.max(1.0, median)
    }
}
