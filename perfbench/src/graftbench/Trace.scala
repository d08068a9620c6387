package graftbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._

/** One timed call: `layer` is the engine module the call enters
  * (search, dsl, analysis, sources, plans, pipeline) or `bench` for the
  * request that wraps a workload operation. Spans of one operation
  * share `req`. */
final class Span(val id: Int, val name: String, val layer: String, val parent: Int,
    val req: Long, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one job group (one span). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runTimeMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Counts jobs, stages and tasks per job group. The benchmark sets a
  * job group per span, so every count lands on the span that caused
  * it. Events arrive on the listener bus thread, hence the locking. */
final class LayerListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    val s = stats(g)
    s.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    stats(g).jobIntervals += (jobStart.getOrElse(e.jobId, e.time) -> e.time)
  }

  private def groupOfStage(stageId: Int): String =
    stageJob.get(stageId).flatMap(jobGroup.get).getOrElse("")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stats(groupOfStage(e.stageInfo.stageId))
    s.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(groupOfStage(e.stageId))
    s.tasks += 1
    if (e.reason != TaskSuccess) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runTimeMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def group(g: String): Option[GroupStats] = synchronized(groups.get(g))

  def sawJobEnd(g: String): Boolean = synchronized(groups.get(g).exists(_.jobIntervals.nonEmpty))
}

/** Spans around the benchmark's calls into each layer. Disabled, it
  * only runs the body. Enabled, each span sets its own Spark job group
  * so [[LayerListener]] can attribute jobs, stages and tasks to it;
  * spans stay in memory until [[write]]. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextReq = 0L
  private var currentReq = -1L
  val listener: Option[LayerListener] =
    if (enabled) { val l = new LayerListener; sc.addSparkListener(l); Some(l) } else None

  /** Whether spans are being recorded now: a traced run alternates
    * traced and plain rounds (see [[Ctx.rounds]]). */
  var active: Boolean = enabled

  private def groupId(s: Span) = s"perfbench:${s.id}"

  /** Runs `f` as one request: a root span named `name` in layer `bench`. */
  def request[T](name: String)(f: => T): T =
    if (!active) f
    else { currentReq = nextReq; nextReq += 1; span(name, "bench")(f) }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!active) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, name, layer, parent, currentReq, System.nanoTime(),
        System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(groupId(s), name, interruptOnCancel = false)
      try f
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupId(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Blocks until the listener has seen every event posted so far: the
    * bus is FIFO, so once a marker job's end arrives, all earlier job
    * and task events have too. */
  def drain(): Unit = listener.foreach { l =>
    sc.setJobGroup("perfbench:marker", "marker", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!l.sawJobEnd("perfbench:marker") && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private var childIndex = (-1, Map.empty[Int, Seq[Span]])
  private def children: Map[Int, Seq[Span]] = {
    if (childIndex._1 != spans.size) childIndex = (spans.size, spans.toSeq.groupBy(_.parent))
    childIndex._2
  }

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Spark work of a span and every span under it. */
  def sparkStats(s: Span): GroupStats = {
    val out = new GroupStats
    for (l <- listener; c <- subtree(s); g <- l.group(groupId(c))) {
      out.jobs += g.jobs; out.stages += g.stages; out.tasks += g.tasks
      out.failedTasks += g.failedTasks; out.runTimeMs += g.runTimeMs
      out.shuffleWriteBytes += g.shuffleWriteBytes; out.spillBytes += g.spillBytes
      out.jobIntervals ++= g.jobIntervals
    }
    out
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of `s` during which none of its jobs was running. */
  def driverGapMs(s: Span): Double =
    (s.endMs - s.startMs) - covered(sparkStats(s).jobIntervals.toSeq, s.startMs, s.endMs)

  /** Duration of `s` minus the part its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil)
    val kidNs = covered(kids.map(k => (k.startNs, k.endNs)), s.startNs, s.endNs)
    (s.endNs - s.startNs - kidNs) / 1e6
  }

  /** Writes one JSON line per span, then a per-layer self-time line. */
  def write(path: String, workload: String, seed: Long): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.foreach { s =>
        val g = sparkStats(s)
        w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "parent" -> s.parent, "req" -> s.req, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "dur_ms" -> s.durMs, "self_ms" -> selfMs(s),
          "jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks)))
      }
      val selfByLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfMs).sum }
      w.println(Json.obj(Seq("workload" -> workload, "seed" -> seed,
        "self_ms_by_layer" -> Json.obj(selfByLayer.toSeq.sortBy(_._1)))))
    } finally w.close()
  }
}
