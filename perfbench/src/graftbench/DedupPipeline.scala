package graftbench

import scala.collection.mutable

import graft.pipeline.Dedup
import graft.sources.Frames
import org.apache.spark.sql.functions.col

/** dedup_pipeline: MinHash-LSH pairs, connected-component clusters and
  * the duplicate drop over a corpus with planted near-duplicates. Scan
  * and shuffle throughput with no index and no per-query overhead, so
  * it separates engine-wide changes from search-only ones. */
object DedupPipeline {
  val NDocs = 3000
  val PlantRate = 0.1
  val MaxEdits = 2
  val Threshold = 0.6
  /** Share of planted pairs at shingle Jaccard >= [[NearJaccard]] that
    * must land in one cluster. LSH with 4 bands of 4 rows finds a pair
    * at Jaccard 0.8 with p = 0.88 and at 0.9 with p = 0.99. (Edits in
    * short documents can push a planted pair below 0.8; those are not
    * counted.) */
  val NearJaccard = 0.8
  val RecallFloor = 0.85

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (docs, planted) = Gen.withNearDups(ctx.seed, NDocs, PlantRate, MaxEdits)
    val dir = s"${ctx.workDir}/dedup"
    ctx.writeCorpus(dir, docs)
    ctx.sizes("", Gen.sizes(docs))
    ctx.inputs("planted_pairs") = planted.size
    ctx.inputs("sha256") = Gen.digest(docs)
    ctx.phase("generate")

    if (ctx.traced) Main.tokenizePass(ctx, dir)
    val setup = ctx.repeat(3) {
      Dedup.clearCaches()
      ctx.span("pipeline.lsh_tables", "pipeline")(Dedup.corpusLshTables(spark, dir))
    }
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    ctx.phase("setup")

    val lat = mutable.ArrayBuffer.empty[Double]
    var last: (Array[(Long, Long)], Map[Long, Long], Long) = null
    ctx.rounds(warmup = true) {
      ctx.op("pass") {
        val pairs = ctx.span("pipeline.pairs", "pipeline")(
          Dedup.minhashLsh(spark, dir, Threshold).localCheckpoint(true))
        val clusters = ctx.span("pipeline.clusters", "pipeline")(
          Dedup.resolveClusters(pairs).localCheckpoint(true))
        val kept = ctx.span("pipeline.drop", "pipeline")(
          Dedup.dropClusteredDuplicates(corpus, clusters, "doc_id").count())
        val out = (pairs.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))),
          clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, kept)
        Frames.release(pairs, blocking = true)
        Frames.release(clusters, blocking = true)
        out
      }.foreach { case (ms, out) => if (ctx.measuring) lat += ms; last = out }
    }

    // checks: every reported pair reaches the threshold, planted pairs
    // are recalled, and the drop keeps one doc per cluster
    if (last != null) {
      val (pairs, canonical, kept) = last
      val text = docs.map(d => d.id -> d.text).toMap
      val low = pairs.filter { case (a, b) => Oracle.shingleJaccard(text(a), text(b)) < Threshold - 1e-9 }
      ctx.check("pairs reach the Jaccard threshold", low.isEmpty,
        s"${low.length} of ${pairs.length} below $Threshold, e.g. ${low.take(3).mkString(",")}")
      def comp(id: Long) = canonical.getOrElse(id, id)
      val near = planted.filter { case (a, b) => Oracle.shingleJaccard(text(a), text(b)) >= NearJaccard }
      val recall = near.count { case (a, b) => comp(a) == comp(b) }.toDouble / near.size
      ctx.inputs("planted_recall") = recall
      ctx.check("planted pair recall", recall >= RecallFloor, f"recall $recall%.3f < $RecallFloor")
      val dropped = canonical.count { case (id, c) => id != c }
      ctx.check("one doc kept per cluster", kept == NDocs - dropped, s"kept $kept, expected ${NDocs - dropped}")
    }
    ctx.check("at least one pass", last != null, "no pass completed")

    ctx.phase("check")
    ctx.finish(setup, lat.toSeq, lat.size.toDouble * NDocs, lat.sum / 1000)
    ctx.report("dedup_docs_per_s") = Metric(lat.size * NDocs / (lat.sum / 1000), "docs/s", lat.size)

    if (ctx.traced) {
      ctx.layerMs("pipeline.lsh_tables_s", "pipeline.lsh_tables", 1e-3, "s")
      ctx.layerMs("pipeline.pairs_s", "pipeline.pairs", 1e-3, "s")
      ctx.layerMs("pipeline.clusters_s", "pipeline.clusters", 1e-3, "s")
      // candidate pairs: the band-bucket self-join minhashLsh verifies
      val (bands, _) = Dedup.corpusLshTables(spark, dir)
      val a = bands.select(col("doc_id").as("x"), col("band"), col("bh"))
      val b = bands.select(col("doc_id").as("y"), col("band"), col("bh"))
      val candidates = a.join(b, Seq("band", "bh")).where(col("x") < col("y"))
        .select("x", "y").distinct().count()
      val verified = if (last == null) 0 else last._1.length
      ctx.layers("pipeline.candidate_pairs") = Metric(candidates.toDouble, "count")
      ctx.layers("pipeline.verified_pairs") = Metric(verified.toDouble, "count")
      ctx.layers("pipeline.pair_yield") = Metric(verified.toDouble / math.max(1L, candidates), "ratio")
      ctx.sparkLayer(Set("pass"))
    }
  }
}
