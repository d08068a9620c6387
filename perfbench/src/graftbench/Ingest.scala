package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.dsl.Parsed
import graft.search.{SearchIndex, SearchQueries}
import graft.sources.CorpusRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** ingest_refresh: the only workload that writes. From a base corpus it
  * runs a fixed number of rounds: append a batch with drifting vocabulary through the DSv2
  * sink (the incremental addDocuments merge), then read through the
  * DSv2 source, including terms only the new batch contains. Reads
  * slow as appends pile up into union chains, so a write gain that
  * costs reads shows, and the reverse too. */
object Ingest {
  val NBase = 3000
  val BatchDocs = 100
  val FreshTerms = 10
  val ReadsPerAppend = 3
  val Drift = 200
  val K = 10
  /** Measured refresh rounds, after the warm-up. Fixed, not timed: every
    * round grows the corpus by one batch, so a time-bound loop would
    * read longer union chains on a build whose appends are faster. */
  val Rounds = 2

  private def read(dir: String, query: String, enOnly: Boolean)(implicit ctx: Ctx): DataFrame = {
    val df = ctx.spark.read.format("graft").option("dir", dir).option("query", query)
      .option("k", K.toString).load()
    if (enOnly) df.where(col("lang") === "en") else df
  }

  def run(ctx0: Ctx): Unit = {
    implicit val ctx: Ctx = ctx0
    val spark = ctx.spark
    val (base, zipf) = Gen.corpus(ctx.seed, NBase)
    val dir = s"${ctx.workDir}/ingest"
    ctx.writeCorpus(dir, base)
    ctx.sizes("", Gen.sizes(base))
    ctx.inputs("batch_docs") = BatchDocs
    ctx.phase("generate")

    if (ctx.traced) Main.tokenizePass(ctx, dir)
    val firstQuery = Gen.word(zipf.sample(new SplittableRandom(ctx.seed)))
    val setup = ctx.repeat(3) {
      SearchQueries.clearCache()
      ctx.span("search.build", "search")(SearchQueries.indexFor(spark, dir))
      ctx.span("sources.dsv2_first_read", "sources")(read(dir, firstQuery, enOnly = false).collect())
    }

    ctx.phase("setup")
    val rng = new SplittableRandom(ctx.seed * 13L + 5L)
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val batches = mutable.ArrayBuffer.empty[Array[Gen.Doc]]
    var planNodes = 0
    var b = 0
    ctx.rounds(warmup = true, fixed = Some(Rounds)) {
      val firstId = NBase.toLong + b.toLong * BatchDocs
      val batch = Gen.appendBatch(ctx.seed, b, BatchDocs, firstId, zipf, Drift, FreshTerms)
      batches += batch
      val frame = ctx.docsFrame(batch)
      ctx.op("append") {
        ctx.span("sources.dsv2_append", "sources") {
          frame.write.format("graft").option("dir", dir).mode("append").save()
        }
      }.foreach { case (ms, _) => if (ctx.measuring) appendMs += ms }
      (0 until ReadsPerAppend).foreach { r =>
        // the first read after an append looks up a term only that batch has
        val fresh = r == 0
        val query =
          if (fresh) Gen.word(Gen.freshRank(b, rng.nextInt(FreshTerms)))
          else Iterator.fill(1 + rng.nextInt(2))(Gen.word(zipf.sample(rng) + b * Drift)).mkString(" ")
        val enOnly = !fresh && rng.nextInt(3) == 0
        // the probe runs outside the timed read, so trace.overhead_ratio
        // counts only the tracer's own cost
        if (ctx.tracer.active)
          ctx.span("sources.signature", "sources")(CorpusRegistry.signature(dir))
        ctx.op("read") {
          val df = ctx.span("sources.dsv2_plan", "sources") {
            val d = read(dir, query, enOnly).select("doc_id"); d.queryExecution.executedPlan; d
          }
          ctx.span("sources.dsv2_exec", "sources")(df.collect())
        }.foreach { case (ms, rows) =>
          if (ctx.measuring) readMs += ms
          if (fresh) {
            val ids = rows.map(_.getLong(0))
            ctx.check(s"batch $b findable by $query",
              ids.length == K && ids.forall(id => id >= firstId && id < firstId + BatchDocs),
              s"hits ${ids.mkString(",")} outside [$firstId, ${firstId + BatchDocs})")
          }
        }
      }
      if (ctx.tracer.active) planNodes = PlanWalk.nodes(SearchQueries.indexFor(spark, dir)
        .search(Parsed("text", firstQuery), K).queryExecution.executedPlan).size
      b += 1
    }

    // check: the incrementally merged index equals a fresh build of the
    // corpus as written
    val merged = SearchQueries.indexFor(spark, dir)
    val fresh = SearchIndex.build(spark.read.parquet(s"$dir/documents.parquet"), Join.Spec)
    val total = NBase.toLong + batches.map(_.length).sum
    def statsOf(i: SearchIndex) = i.stats.select("field", "term", "df", "cf")
    ctx.check("merged stats equal a fresh build",
      statsOf(merged).exceptAll(statsOf(fresh)).isEmpty && statsOf(fresh).exceptAll(statsOf(merged)).isEmpty,
      "term statistics differ")
    ctx.check("merged doc count", merged.fieldStats("text").numDocs == total &&
      fresh.fieldStats("text").numDocs == total &&
      math.abs(merged.fieldStats("text").avgDl - fresh.fieldStats("text").avgDl) < 1e-9,
      s"merged ${merged.fieldStats("text")} fresh ${fresh.fieldStats("text")} written $total")
    val probes = Seq(firstQuery, Gen.word(Gen.freshRank(batches.size - 1, 0)))
    probes.foreach { q =>
      def top(i: SearchIndex) = i.search(Parsed("text", q), K).select("doc_id", "score").collect()
        .toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      val (m, f) = (top(merged), top(fresh))
      ctx.check(s"merged search $q", Oracle.sameRanking(m, f), s"merged ${Oracle.show(m)} fresh ${Oracle.show(f)}")
    }
    fresh.unpersist()
    ctx.inputs("appended_docs") = batches.map(_.length).sum
    ctx.inputs("appended_bytes") = Gen.sizes(batches.flatten).bytes
    ctx.inputs("sha256") = Gen.digest(base, batches.flatten)

    ctx.phase("check")
    val appendDocs = appendMs.size.toDouble * BatchDocs
    // end to end, throughput is the refresh loop's: appended docs per
    // second of appending them and serving the reads that follow (two
    // appends alone are too few samples for a steady rate)
    ctx.finish(setup, readMs.toSeq, appendDocs, (appendMs.sum + readMs.sum) / 1000)
    ctx.report("ingest_docs_per_s") = Metric(appendDocs / (appendMs.sum / 1000), "docs/s", appendMs.size)
    ctx.report("fresh_search_p50_ms") = Metric(Stats.median(readMs.toSeq), "ms", readMs.size)
    ctx.report("fresh_search_p90_ms") = Metric(Stats.pct(readMs.toSeq, 90), "ms", readMs.size)

    if (ctx.traced) {
      ctx.layerMs("search.build_s", "search.build", 1e-3, "s")
      ctx.layerMs("sources.dsv2_append_s", "sources.dsv2_append", 1e-3, "s")
      ctx.layerMs("sources.signature_ms", "sources.signature")
      ctx.layerMs("sources.dsv2_plan_ms", "sources.dsv2_plan")
      ctx.layerMs("sources.dsv2_exec_ms", "sources.dsv2_exec")
      ctx.layers("search.read_plan_nodes") = Metric(planNodes.toDouble, "count", 1)
      ctx.sparkLayer(Set("append", "read"))
    }
  }
}
