package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.dsl._
import graft.search.{BM25, IndexSpec, SearchIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** join_batch: a sequence of query-join requests over one index. Each
  * request joins a left frame drawn (Zipf-weighted) from a pool of 48,
  * three times the join memo's 16 entries; a round repeats one request,
  * which the memo answers. Per-request cost is amortised over the left
  * rows: postings probe, seed and verify shuffles, top-k and the memo
  * do the work. A run makes one round: the memo keeps state from round
  * to round, so a time-bound loop would give a faster build more memo
  * hits. */
object Join {
  val NDocs = 4000
  val PoolSize = 48
  val LeftRows = 16
  val K = 5
  /** Measured rounds. Fixed, not timed: see above. */
  val Rounds = 1
  private val Field = "text"
  val Spec: IndexSpec = IndexSpec(keyCol = "doc_id", textFields = Seq(Field),
    keywordFields = Seq("lang", "source"), similarity = BM25(1.2, 0.75))

  /** Request kinds in rotation order (cheapest first, the seed-pass
    * pruned join last). */
  val Kinds: Seq[String] = Seq("flat", "ast", "bool", "batch", "ast_pruned")
  private val Memoized = Set("ast", "ast_pruned", "bool")

  // left frame columns, by position
  private val Qid = 0; private val Terms = 1; private val Req = 2
  private val Opt = 3; private val Exc = 4

  /** The queryJoinAst generator. A top-level object, so every request
    * passes the same closure and the memo can recognise repeats. */
  object AstGen extends (Row => SearchQuery) with Serializable {
    def apply(r: Row): SearchQuery = {
      val ts = r.getSeq[String](Terms)
      if (ts.size >= 3) Or(MatchAllTerms(Field, ts.take(2)), MatchTerm(Field, ts(2)))
      else MatchAnyTerms(Field, ts)
    }
  }

  /** The query a left row stands for under each join kind, for the
    * per-row search check. */
  def perRowQuery(kind: String, r: Row): SearchQuery = kind match {
    case "ast" | "ast_pruned" => AstGen(r)
    case "bool" =>
      val base = And(MatchAllTerms(Field, r.getSeq[String](Req)),
        MatchMin(Field, 1, r.getSeq[String](Opt)))
      val exc = r.getSeq[String](Exc)
      if (exc.isEmpty) base else And(base, Not(MatchAnyTerms(Field, exc)))
    case _ => MatchAnyTerms(Field, r.getSeq[String](Terms))
  }

  /** A left frame: its rows, and the DataFrame built from them on first
    * use. Each frame keeps one DataFrame, so the memo sees one plan. */
  final class LeftFrame(val rows: Seq[Row], build: => DataFrame) {
    lazy val df: DataFrame = build
  }

  /** The left-frame pool: every row has the same shape (three terms
    * from a random document, so most queries hit; a Zipf-popular
    * optional term and excluded term), so plans do not vary with the
    * seed, only the data does. */
  def pool(ctx: Ctx, docs: Array[Gen.Doc], zipf: Gen.Zipf): IndexedSeq[LeftFrame] = {
    import ctx.spark.implicits._
    val rng = new SplittableRandom(ctx.seed * 17L + 3L)
    (0 until PoolSize).map { p =>
      val rows = (0 until LeftRows).map { i =>
        val doc = Gen.tokens(docs(rng.nextInt(docs.length)).text).distinct
        val picked = Iterator.continually(doc(rng.nextInt(doc.length))).distinct.take(3).toSeq
        val popular = Iterator.continually(Gen.word(zipf.sample(rng)))
          .filterNot(picked.contains).distinct.take(2).toSeq
        (p * 1000L + i, picked, Seq(picked.head), Seq(picked(1), popular.head), Seq(popular(1)),
          Field, 1)
      }
      new LeftFrame(rows.map(r => Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7)),
        rows.toDF("qid", "terms", "req", "opt", "exc", "field", "min_match"))
    }
  }

  /** One round of requests as (kind, pool index): every kind once, on
    * Zipf-drawn frames, then the round's bool request again, whose
    * eager set-up the memo answers. */
  def round(schedule: SplittableRandom, pick: Gen.Zipf): Seq[(String, Int)] = {
    val first = Kinds.map(k => k -> pick.sample(schedule))
    first :+ first.find(_._1 == "bool").get
  }

  private def runJoin(ctx: Ctx, idx: SearchIndex, kind: String, left: DataFrame): Array[Row] =
    kind match {
      case "batch" =>
        ctx.span("search.batch_exec", "search") {
          idx.batchSearch(left.select("qid", "field", "terms", "min_match"), K)
            .select("qid", "key", "score").collect()
        }
      case _ =>
        val out = ctx.span("search.join_setup", "search") {
          kind match {
            case "ast" => idx.queryJoinAst(left, "qid", AstGen, Field, K)
            case "ast_pruned" => idx.queryJoinAst(left, "qid", AstGen, Field, K, impactPruning = true)
            case "bool" => idx.queryJoinBool(left, "qid", col("req"), col("opt"), col("exc"),
              Field, K, minOptMatch = 1)
            case "flat" => idx.queryJoin(left, "qid", col("terms"), Field, K)
          }
        }
        ctx.span("search.join_exec", "search")(out.select("qid", "key", "score").collect())
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (docs, zipf) = Gen.corpus(ctx.seed, NDocs)
    val dir = s"${ctx.workDir}/join"
    ctx.writeCorpus(dir, docs)
    val leftPool = pool(ctx, docs, zipf)
    ctx.sizes("", Gen.sizes(docs))
    ctx.inputs("left_frames") = PoolSize
    ctx.inputs("left_rows_per_frame") = LeftRows
    ctx.inputs("sha256") = Gen.digest(docs)
    ctx.phase("generate")

    if (ctx.traced) Main.tokenizePass(ctx, dir)
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    var idx: SearchIndex = null
    val setup = ctx.repeat(3) {
      if (idx != null) idx.unpersist()
      idx = ctx.span("search.build", "search")(SearchIndex.build(corpus, Spec))
    }

    ctx.phase("setup")
    // the request schedule does not depend on the seed, so memo hits
    // and misses fall alike in every run; the seed varies the corpus
    // and the frames' rows
    val schedule = new SplittableRandom(48L)
    val pick = new Gen.Zipf(PoolSize, 1.0)
    val lat = mutable.ArrayBuffer.empty[Double]
    val done = mutable.ArrayBuffer.empty[(String, Int, Array[Row])]
    val memoCalls = mutable.ArrayBuffer.empty[Span]
    // no warm-up round: one round of joins costs more than the measuring
    // window, and every request in it but the repeat is a first call
    ctx.rounds(warmup = false, fixed = Some(Rounds)) { round(schedule, pick).foreach { case (kind, frame) =>
      val rows = leftPool(frame).rows
      // the probe runs outside the timed request
      if (ctx.tracer.active && kind.startsWith("ast"))
        ctx.span("dsl.program_compile", "dsl") {
          QueryProgram.compile(AstGen(rows.head), Field, Spec.queryAnalyzer,
            Set(Field, "lang", "source"), Set(Field))
        }
      ctx.op(kind)(runJoin(ctx, idx, kind, leftPool(frame).df)).foreach { case (ms, out) =>
        lat += ms
        done += ((kind, frame, out))
        if (ctx.tracer.active && Memoized(kind))
          memoCalls ++= ctx.tracer.named("search.join_setup").lastOption
      }
    }}

    // checks: one qid of every request equals a per-row search, and a
    // repeated request (the memo's answer) returns what the first did
    def byQid(out: Array[Row]): Map[Long, Seq[(Long, Double)]] =
      out.toSeq.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(o => (o.getLong(1), o.getDouble(2))).sortBy { case (k, s) => (-s, k) }
      }
    var repeats = 0
    done.zipWithIndex.foreach { case ((kind, frame, out), i) =>
      val rows = leftPool(frame).rows
      val r = rows(rows.size / 2)
      val qid = r.getLong(Qid)
      val got = byQid(out).getOrElse(qid, Nil)
      val want = idx.search(perRowQuery(kind, r), K).select("doc_id", "score").collect().toSeq
        .map(o => (o.getLong(0), o.getDouble(1)))
      ctx.check(s"$kind request $i qid $qid", Oracle.sameRanking(got, want),
        s"join ${Oracle.show(got)} vs search ${Oracle.show(want)}")
      done.take(i).find(d => d._1 == kind && d._2 == frame).foreach { case (_, _, first) =>
        repeats += 1
        val (now, before) = (byQid(out), byQid(first))
        ctx.check(s"$kind request $i repeats an earlier one", now.keySet == before.keySet &&
          now.forall { case (q, hits) => Oracle.sameRanking(hits, before(q)) },
          s"${out.length} rows vs ${first.length} the first time")
      }
    }
    ctx.check("a repeated request checked", repeats > 0, "no request was repeated")
    ctx.check("every join kind checked", Kinds.forall(k => done.exists(_._1 == k)),
      s"checked ${done.map(_._1).distinct.mkString(",")}")

    ctx.phase("check")
    val seconds = lat.sum / 1000
    ctx.finish(setup, lat.toSeq, lat.size.toDouble * LeftRows, seconds)
    ctx.report("join_rows_per_s") = Metric(lat.size * LeftRows / seconds, "rows/s", lat.size)
    ctx.report("join_p50_s") = Metric(Stats.median(lat.toSeq) / 1000, "s", lat.size)

    if (ctx.traced) {
      ctx.tracer.drain()
      ctx.layerMs("search.build_s", "search.build", 1e-3, "s")
      ctx.layerMs("search.join_setup_s", "search.join_setup", 1e-3, "s")
      ctx.layerMs("search.join_exec_s", "search.join_exec", 1e-3, "s")
      ctx.layerMs("search.batch_exec_s", "search.batch_exec", 1e-3, "s")
      val memo = memoCalls.toSeq
      ctx.layers("search.join_memo_hit_ratio") = Metric(
        memo.count(s => ctx.tracer.sparkStats(s).jobs == 0).toDouble / math.max(1, memo.size),
        "ratio", memo.size)
      ctx.layerMs("dsl.program_compile_us", "dsl.program_compile", 1e3, "us")
      ctx.sparkLayer(Kinds.toSet)
    }
  }
}
