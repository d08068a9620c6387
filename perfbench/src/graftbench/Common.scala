package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case Raw(j) => j
    case other => str(other.toString)
  }
  final case class Raw(json: String)
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One metric as reported: value and unit, plus the sample count for
  * timings summarised over many operations. */
final case class Metric(value: Double, unit: String, samples: Int = 0)

/** Per-run state shared by the workloads: the session, the seed, the
  * measuring window, the tracer, operation and check counters. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Tracer, val workDir: String) {
  val cores: Int = spark.sparkContext.defaultParallelism
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  var checksRun = 0
  /** The workload's own metrics, named as in the benchmark's README. */
  val report = mutable.LinkedHashMap.empty[String, Metric]
  /** The four end-to-end metrics every workload reports. */
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  /** Wall time of operations run untraced and traced, for trace.overhead_ratio. */
  val plainOpMs = mutable.ArrayBuffer.empty[Double]
  val tracedOpMs = mutable.ArrayBuffer.empty[Double]

  def traced: Boolean = tracer.enabled

  private val startNs = System.nanoTime()
  /** Logs the end of a run phase to stderr, with seconds since start. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - startNs) / 1e9}%.1fs $name done")

  /** False during a warm-up round: its operations run but are not
    * recorded as measurements. */
  var measuring = false

  /** The measuring loop. With `warmup`, one unrecorded round first pays
    * the JVM's first-use costs of the workload's code paths. Then
    * `fixed` rounds run when given, for workloads whose state grows
    * from round to round, so that every build measures the same state;
    * otherwise whole rounds run, at least one, until `seconds` have
    * passed.
    *
    * A traced run of a workload with a warm-up traces every other round
    * and runs at least three, ending on a plain one, so every traced
    * round sits between two plain ones: trace.overhead_ratio compares
    * them at equal warmth and state. Without a warm-up the first round
    * is cold and has no plain twin, so every round is traced and no
    * ratio is computed. */
  def rounds(warmup: Boolean, fixed: Option[Int] = None)(body: => Unit): Unit = {
    val alternate = traced && warmup
    tracer.active = false
    if (warmup) body
    measuring = true
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def more(done: Int): Boolean =
      if (alternate && (done < 3 || done % 2 == 0)) true
      else fixed.fold(done == 0 || System.nanoTime() < deadline)(done < _)
    var r = 0
    while (more(r)) {
      tracer.active = traced && (!alternate || r % 2 == 1)
      body
      r += 1
    }
    tracer.active = false
    measuring = false
    phase("measure")
  }

  def overheadRatio(): Unit = if (traced && plainOpMs.nonEmpty && tracedOpMs.nonEmpty)
    layers("trace.overhead_ratio") =
      Metric(Stats.mean(tracedOpMs.toSeq) / Stats.mean(plainOpMs.toSeq), "ratio", tracedOpMs.size)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checksRun += 1
    if (!ok) checkFailures += s"$name: $detail"
  }

  /** Runs one measured operation; returns its wall time in ms, or None
    * when it threw (counted as failed). */
  def op[T](name: String)(f: => T): Option[(Double, T)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.request(name)(f)
      val ms = (System.nanoTime() - t0) / 1e6
      if (traced && measuring) (if (tracer.active) tracedOpMs else plainOpMs) += ms
      Some((ms, r))
    } catch {
      case e: Exception =>
        failed += 1
        if (failures.size < 5) failures += s"$name: $e"
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** Fills the end-to-end metrics: median set-up time, median operation
    * latency, and `work` units done per second of operation time. */
  def finish(setupS: Seq[Double], latencyMs: Seq[Double], work: Double, workSecs: Double): Unit = {
    val storage = storageMb()
    endToEnd("setup_s") = Metric(Stats.median(setupS), "s", setupS.size)
    endToEnd("latency_p50_ms") = Metric(Stats.median(latencyMs), "ms", latencyMs.size)
    endToEnd("throughput_per_s") = Metric(work / workSecs, "1/s", latencyMs.size)
    endToEnd("storage_mb") = Metric(storage, "MB")
    report("setup_s") = endToEnd("setup_s")
    report("storage_mb") = endToEnd("storage_mb")
    report("failed_ratio") = Metric(failed.toDouble / math.max(1L, attempted), "ratio", attempted.toInt)
  }

  /** Times `f` `reps` times and returns the per-rep seconds. */
  def repeat(reps: Int)(f: => Unit): Seq[Double] = (1 to reps).map { _ =>
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def span[T](name: String, layer: String)(f: => T): T = tracer.span(name, layer)(f)

  def sizes(prefix: String, s: Gen.Sizes): Unit = {
    inputs(s"${prefix}docs") = s.docs
    inputs(s"${prefix}tokens") = s.tokens
    inputs(s"${prefix}distinct_terms") = s.distinctTerms
    inputs(s"${prefix}bytes") = s.bytes
  }

  /** Memory plus disk of every persisted RDD, in MB. */
  def storageMb(): Double = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum / 1e6

  /** Writes generated docs as the corpus `dir/documents.parquet`. */
  def writeCorpus(dir: String, docs: Seq[Gen.Doc], files: Int = cores): Unit =
    docsFrame(docs).repartition(files).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

  def docsFrame(docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Spark work of every traced request span named `name`. */
  def sparkLayer(names: Set[String]): Unit = if (traced) {
    tracer.drain()
    val ops = tracer.spans.filter(s => s.layer == "bench" && names(s.name)).toSeq
    if (ops.nonEmpty) {
      val st = ops.map(tracer.sparkStats)
      val n = ops.size.toDouble
      val wallMs = ops.map(_.durMs).sum
      layers("spark.jobs") = Metric(st.map(_.jobs).sum / n, "count", ops.size)
      layers("spark.stages") = Metric(st.map(_.stages).sum / n, "count", ops.size)
      layers("spark.tasks") = Metric(st.map(_.tasks).sum / n, "count", ops.size)
      layers("spark.driver_gap_ms") = Metric(ops.map(tracer.driverGapMs).sum / n, "ms", ops.size)
      layers("spark.executor_busy_ratio") =
        Metric(st.map(_.runTimeMs).sum / (wallMs * cores), "ratio", ops.size)
      layers("spark.shuffle_write_mb") = Metric(st.map(_.shuffleWriteBytes).sum / 1e6 / n, "MB", ops.size)
      layers("spark.spill_mb") = Metric(st.map(_.spillBytes).sum / 1e6 / n, "MB", ops.size)
      layers("spark.failed_tasks") = Metric(st.map(_.failedTasks).sum.toDouble, "count", ops.size)
    }
  }

  /** Records layer metric `metric` as the mean duration of the spans
    * named `span`, in ms times `scale` (0 when none ran). */
  def layerMs(metric: String, span: String, scale: Double = 1.0, unit: String = "ms"): Unit =
    if (traced) {
      val ss = tracer.named(span)
      layers(metric) = Metric(Stats.mean(ss.map(_.durMs)) * scale, unit, ss.size)
    }
}
