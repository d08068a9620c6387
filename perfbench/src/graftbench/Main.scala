package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Benchmark process: one workload, one seed, one measuring window.
  *
  * {{{
  *   graftbench.Main --workload search_serve --seed 1 --seconds 6 \
  *     --trace 0 --work <scratch dir> [--trace-out <spans.jsonl>]
  * }}}
  *
  * Prints one JSON line, last on stdout, with the checks' verdict, the
  * operation counts, the workload's metrics and the input sizes. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "search_serve" -> Serve.run,
    "join_batch" -> Join.run,
    "ingest_refresh" -> Ingest.run,
    "dedup_pipeline" -> DedupPipeline.run)

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // the session graft.Bench uses, with scratch space kept under `work`
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.maxPlanStringLength", "32768")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
  }

  /** analysis.tokenize_s: a noop pass of the default analyzer over the
    * corpus, timed during set-up of a traced run. */
  def tokenizePass(ctx: Ctx, dir: String): Unit = {
    val an = graft.analysis.Analyzers("default")
    val t0 = System.nanoTime()
    ctx.span("analysis.tokenize", "analysis") {
      ctx.spark.read.parquet(s"$dir/documents.parquet")
        .select(an.tokensCol(col("text"))).write.format("noop").mode("overwrite").save()
    }
    ctx.layers("analysis.tokenize_s") = Metric((System.nanoTime() - t0) / 1e9, "s", 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    require(Workloads.contains(workload),
      s"unknown workload $workload; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work required"))
    val spark = session(work)
    spark.sparkContext.setLogLevel("WARN")
    val line = runOne(spark, workload, seed, seconds, traced, work, arg(args, "--trace-out"))
    // stop before printing: the result must be the last stdout line
    spark.stop()
    println(line)
    System.out.flush()
  }

  private def runOne(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      traced: Boolean, work: String, traceOut: Option[String]): String = {
    val ctx = new Ctx(spark, seed, seconds, new Tracer(traced, spark.sparkContext), work)
    val t0 = System.nanoTime()
    val error = try { Workloads(workload)(ctx); None } catch {
      case e: Exception =>
        e.printStackTrace()
        Some(e.toString)
    }
    ctx.overheadRatio()
    if (traced) traceOut.foreach(ctx.tracer.write(_, workload, seed))
    Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "correct" -> (error.isEmpty && ctx.checkFailures.isEmpty && ctx.checksRun > 0 &&
        ctx.attempted > 0),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "error" -> error.orNull, "op_failures" -> ctx.failures.toSeq,
      "checks_run" -> ctx.checksRun, "check_failures" -> ctx.checkFailures.toSeq,
      "report" -> metricsJson(ctx.report), "end_to_end" -> metricsJson(ctx.endToEnd),
      "layers" -> metricsJson(ctx.layers), "inputs" -> ctx.inputs.toMap,
      "wall_s" -> (System.nanoTime() - t0) / 1e9))
  }

  private def metricsJson(ms: collection.Map[String, Metric]): Json.Raw =
    Json.Raw(Json.obj(ms.toSeq.map { case (k, m) =>
      k -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit, "samples" -> m.samples)))
    }))
}
