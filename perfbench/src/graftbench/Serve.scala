package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.dsl._
import graft.search.SearchQueries
import org.apache.spark.sql.{DataFrame, Row}

/** search_serve: one index, top-k queries issued one at a time by a
  * closed-loop client. Per-query fixed cost (IDF lookup job, planning,
  * scheduling, codegen) dominates; the query-join machinery is idle. */
object Serve {
  val NDocs = 4000
  val K = 10
  private val Field = "text"

  /** One query of the mix. `flat` carries (terms, all-required) for the
    * queries the BM25 oracle can recompute. */
  final case class Query(kind: String, ast: Option[SearchQuery], raw: Option[String],
      flat: Option[(Seq[String], Boolean)])

  /** The kinds of a 10-query round: term 2, OR, AND, phrase, filtered
    * bool and raw parsed string 1 each, SQL TVF 3. Queries follow the
    * round in a fixed shuffled order, so every run has the same mix;
    * the seed picks the terms. */
  private val Round: Array[String] = {
    val kinds = Seq("term" -> 2, "or" -> 1, "and" -> 1, "phrase" -> 1, "bool" -> 1,
      "raw" -> 1, "sql" -> 3).flatMap { case (k, n) => Seq.fill(n)(k) }.toArray
    val shuffle = new SplittableRandom(20L)
    for (i <- kinds.indices.reverse) {
      val j = shuffle.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    kinds
  }

  final class Mix(seed: Long, docs: Array[Gen.Doc], zipf: Gen.Zipf) {
    private val rng = new SplittableRandom(seed * 31L + 7L)
    private var slot = 0
    private def term(): String = Gen.word(zipf.sample(rng))
    private def terms(n: Int): Seq[String] = Iterator.continually(term()).distinct.take(n).toSeq
    private def docTokens(): Array[String] = Gen.tokens(docs(rng.nextInt(docs.length)).text)
    private def docPair(): (String, String) = {
      val ts = docTokens(); val i = rng.nextInt(ts.length - 1); (ts(i), ts(i + 1))
    }

    def next(): Query = {
      val kind = Round(slot % Round.length)
      slot += 1
      kind match {
        case "term" =>
          val t = term()
          Query(kind, Some(MatchTerm(Field, t)), None, Some((Seq(t), false)))
        case "or" =>
          val ts = terms(2 + rng.nextInt(2))
          Query(kind, Some(MatchAnyTerms(Field, ts)), None, Some((ts, false)))
        case "and" =>
          val (a, b) = docPair()
          val ts = Seq(a, b).distinct
          Query(kind, Some(MatchAllTerms(Field, ts)), None, Some((ts, true)))
        case "phrase" =>
          val (a, b) = docPair()
          Query(kind, Some(MatchPhrase(Field, s"$a $b")), None, None)
        case "bool" =>
          val lo = 100 + rng.nextInt(300)
          Query(kind, Some(And(And(MatchAnyTerms(Field, terms(2)), EqFilter("lang", "en")),
            RangeFilter("n_chars", lo.toLong, lo + 400L))), None, None)
        case "raw" =>
          val (a, b) = docPair()
          val raw = rng.nextInt(3) match {
            case 0 => s"+$a ${term()}"
            case 1 => s"$a $b -${term()}"
            case _ => s"\"$a $b\" ${term()}"
          }
          Query(kind, None, Some(raw), None)
        case "sql" =>
          val ts = terms(2)
          Query(kind, None, Some(ts.mkString(" ")), Some((ts, false)))
      }
    }
  }

  private def ranked(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Number]("doc_id").longValue, r.getAs[Double]("score")))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (docs, zipf) = Gen.corpus(ctx.seed, NDocs)
    ctx.sizes("", Gen.sizes(docs))
    ctx.inputs("sha256") = Gen.digest(docs)
    ctx.phase("gen")
    val dir = s"${ctx.workDir}/serve"
    ctx.writeCorpus(dir, docs)
    ctx.phase("generate")

    if (ctx.traced) Main.tokenizePass(ctx, dir)
    val setup = ctx.repeat(3) {
      SearchQueries.clearCache()
      ctx.span("search.build", "search")(SearchQueries.indexFor(spark, dir))
    }
    val idx = SearchQueries.indexFor(spark, dir)
    ctx.phase("setup")

    val mix = new Mix(ctx.seed, docs, zipf)
    val lat = mutable.ArrayBuffer.empty[Double]
    val sampled = mutable.ArrayBuffer.empty[(Query, Seq[(Long, Double)])]
    var scanned = 0L
    var hits = 0L
    ctx.rounds(warmup = true) { Round.indices.foreach { _ =>
      val q = mix.next()
      // probes of a traced round run outside the timed operation, so
      // trace.overhead_ratio counts only the tracer's own cost
      if (ctx.tracer.active && q.kind != "sql") q.raw.foreach { raw =>
        ctx.span("dsl.parse", "dsl")(Parsed.desugar(Field, raw))
      }
      val res = ctx.op(q.kind) {
        q.kind match {
          case "sql" =>
            val df = ctx.span("plans.sql_plan", "plans") {
              val d = spark.sql(s"SELECT doc_id, score FROM graft_search('$dir', '${q.raw.get}', $K)")
              d.queryExecution.executedPlan
              d
            }
            (ranked(ctx.span("plans.sql_exec", "plans")(df.collect())), None)
          case _ =>
            val df: DataFrame = ctx.span("search.compile", "search") {
              q.raw match {
                case Some(raw) => idx.searchRaw(raw, K)
                case None => idx.search(q.ast.get, K)
              }
            }
            ctx.span("search.plan", "search")(df.queryExecution.executedPlan)
            (ranked(ctx.span("search.exec", "search")(df.collect())), Some(df))
        }
      }
      res.foreach { case (ms, (out, df)) =>
        if (ctx.measuring) lat += ms
        if (q.flat.isDefined && sampled.size < 8) sampled += q -> out
        if (ctx.tracer.active) df.foreach { d =>
          scanned += PlanWalk.scannedRows(d.queryExecution.executedPlan)
          hits += out.length
        }
      }
    }}

    // checks: sampled flat queries against the independent BM25
    // recompute; SQL-TVF queries also against searchRaw and
    // searchViaIndex
    val oracle = new Bm25Oracle(docs)
    var pathChecks = 0
    sampled.foreach { case (q, got) =>
      val (ts, all) = q.flat.get
      val want = oracle.topK(ts, all, K)
      ctx.check(s"bm25 ${q.kind} ${ts.mkString(" ")}", Oracle.sameRanking(got, want),
        s"engine ${Oracle.show(got)} vs oracle ${Oracle.show(want)}")
      if (q.kind == "sql" && pathChecks < 1) {
        pathChecks += 1
        val scala = ranked(idx.searchRaw(q.raw.get, K).collect())
        val viaIndex = ranked(idx.searchViaIndex(Field, ts, 1, K).collect())
        ctx.check(s"paths ${q.raw.get}", Oracle.sameRanking(got, scala) &&
          Oracle.sameRanking(got, viaIndex),
          s"tvf ${Oracle.show(got)} searchRaw ${Oracle.show(scala)} searchViaIndex ${Oracle.show(viaIndex)}")
      }
    }
    ctx.check("sampled queries", sampled.size >= 5, s"only ${sampled.size} sampled")

    ctx.phase("check")
    ctx.finish(setup, lat.toSeq, lat.size, lat.sum / 1000)
    ctx.report("search_p50_ms") = Metric(Stats.median(lat.toSeq), "ms", lat.size)
    ctx.report("search_p95_ms") = Metric(Stats.pct(lat.toSeq, 95), "ms", lat.size)
    ctx.report("queries_per_s") = Metric(lat.size / (lat.sum / 1000), "1/s", lat.size)

    if (ctx.traced) {
      ctx.layerMs("search.build_s", "search.build", 1e-3, "s")
      ctx.layerMs("search.compile_ms", "search.compile")
      ctx.layerMs("search.plan_ms", "search.plan")
      ctx.layerMs("search.exec_ms", "search.exec")
      ctx.layerMs("dsl.parse_us", "dsl.parse", 1e3, "us")
      ctx.layerMs("plans.sql_plan_ms", "plans.sql_plan")
      ctx.layerMs("plans.sql_exec_ms", "plans.sql_exec")
      ctx.layers("search.rows_scanned_per_hit") =
        Metric(scanned.toDouble / math.max(1L, hits), "rows/hit", hits.toInt)
      ctx.sparkLayer(Round.toSet)
    }
  }
}
