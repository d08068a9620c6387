package graftbench

import scala.collection.mutable

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** BM25 recomputed from the generated documents, independently of the
  * engine: k1 1.2, b 0.75, global IDF log(1 + (N - df + 0.5)/(df + 0.5)),
  * ties broken by ascending key. */
final class Bm25Oracle(docs: Seq[Gen.Doc], k1: Double = 1.2, b: Double = 0.75) {
  private val ids: Array[Long] = docs.map(_.id).toArray
  private val dl: Array[Int] = new Array[Int](docs.size)
  private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Int)]]
  docs.zipWithIndex.foreach { case (d, i) =>
    val ts = Gen.tokens(d.text)
    dl(i) = ts.length
    ts.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += (i -> occ.length)
    }
  }
  private val n = docs.size.toDouble
  private val avgdl = dl.map(_.toDouble).sum / n

  def df(t: String): Int = postings.get(t).map(_.size).getOrElse(0)

  private def idf(t: String): Double = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))

  /** Top-k (key, score) of a flat query over distinct `terms`: any term
    * matches (OR), or every term must (AND); scores sum per term. */
  def topK(terms: Seq[String], all: Boolean, k: Int): Seq[(Long, Double)] = {
    val score = mutable.HashMap.empty[Int, Double]
    val hits = mutable.HashMap.empty[Int, Int]
    terms.distinct.foreach { t =>
      val w = idf(t)
      postings.get(t).foreach(_.foreach { case (i, tf) =>
        val s = w * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl(i) / avgdl))
        score(i) = score.getOrElse(i, 0.0) + s
        hits(i) = hits.getOrElse(i, 0) + 1
      })
    }
    val need = if (all) terms.distinct.size else 1
    score.iterator.filter { case (i, _) => hits(i) >= need }
      .map { case (i, s) => (ids(i), s) }.toSeq
      .sortBy { case (key, s) => (-s, key) }.take(k)
  }
}

object Oracle {
  /** True when two ranked (key, score) lists agree on keys, in order,
    * and on scores rounded to 4 decimals (|difference| < 1e-4 also
    * passes, so values straddling a rounding boundary do not fail). */
  def sameRanking(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((ka, sa), (kb, sb)) =>
      ka == kb && (math.abs(sa - sb) < 1e-4 ||
        BigDecimal(sa).setScale(4, BigDecimal.RoundingMode.HALF_UP) ==
          BigDecimal(sb).setScale(4, BigDecimal.RoundingMode.HALF_UP))
    }

  def show(a: Seq[(Long, Double)]): String =
    a.take(5).map { case (k, s) => f"$k:$s%.4f" }.mkString("[", ",", if (a.size > 5) ",...]" else "]")

  /** Jaccard of two documents' distinct 3-token shingle sets; 0 when
    * either has fewer than 3 tokens. */
  def shingleJaccard(a: String, b: String): Double = {
    def sh(t: String): Set[String] = Gen.tokens(t).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty || y.isEmpty) 0.0 else (x & y).size.toDouble / (x | y).size
  }
}

/** Walks an executed physical plan, through adaptive wrappers and query
  * stages. */
object PlanWalk {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Rows emitted by the plan's scan leaves (their `numOutputRows`). */
  def scannedRows(p: SparkPlan): Long = nodes(p)
    .filter(n => n.children.isEmpty && n.nodeName.contains("Scan"))
    .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
}
