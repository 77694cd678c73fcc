package explorerbench

import graft.SparkEntry
import graft.queries._
import org.apache.spark.sql.SparkSession

import java.util.SplittableRandom

/** The `queries` layer, measured in traced runs: one untimed warm-up pass
  * over a fixed list of `SparkEntry.queries` on the benchmark's own copy of
  * the sf0.001 tables, then `Passes` timed passes in a seeded order. A
  * query's time is the median of its passes. Every result's row count must
  * equal the count recorded when the list was chosen.
  *
  * The list holds one query of each module but `ChainQueries`, whose
  * fixture set-up is itself an ingest of about a minute; the chain surface
  * is what the two workloads measure end to end.
  */
object QueryLayer {
  val Passes = 2

  /** Query → row count at sf0.001 when the list was chosen. */
  val ExpectedRows: Map[String, Long] = Map(
    "q3_left_join" -> 13L, "q26_shingle_jaccard" -> 28L, "q31_cosine_topk" -> 50L,
    "q79_bigram_lm_score" -> 500L, "q85_funnel_cohorts" -> 5L,
    "q133_mixture_rates" -> 20L, "q170_image_phash_pairs" -> 72L)

  val Names: Seq[String] = ExpectedRows.keys.toSeq.sorted

  /** The heaviest listed queries, each reported on its own. */
  val Heaviest: Seq[String] = Seq("q26_shingle_jaccard", "q79_bigram_lm_score")

  val Modules: Seq[(String, Set[String])] = Seq(
    "RelationalQueries" -> RelationalQueries, "TextQueries" -> TextQueries,
    "DedupQueries" -> DedupQueries, "SimilarityQueries" -> SimilarityQueries,
    "MultimodalQueries" -> MultimodalQueries, "TemporalQueries" -> TemporalQueries,
    "AssemblyQueries" -> AssemblyQueries)
    .map { case (n, m) => n -> m.queries.keySet }

  final case class Outcome(attempted: Int, mismatches: Seq[String],
    perLayer: Map[String, Double], info: Map[String, Any])

  def measure(spark: SparkSession, trace: Trace, seed: Long, dataDir: String): Outcome = {
    val queries = SparkEntry.queries
    val mismatches = Seq.newBuilder[String]
    var attempted = 0
    def runOne(q: String): Double = {
      attempted += 1
      val t0 = System.nanoTime()
      val rows = scala.util.Try(trace.span(s"queries.$q")(queries(q)(spark, dataDir).count()))
        .getOrElse(-1L)
      if (rows != ExpectedRows(q)) mismatches += s"$q rows=$rows"
      (System.nanoTime() - t0) / 1e6
    }
    val wasActive = trace.active
    trace.active = false
    val warmUpMs = Names.map(runOne).sum
    trace.active = wasActive
    val rng = new SplittableRandom(seed)
    val times = Names.map(_ -> Seq.newBuilder[Double]).toMap
    val t0 = System.currentTimeMillis()
    for (_ <- 1 to Passes) {
      val order = Names.toArray
      for (i <- order.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
      }
      order.foreach(q => times(q) += runOne(q))
    }
    val t1 = System.currentTimeMillis()
    trace.drain()
    val medians = Names.map(q => q -> Stats.median(times(q).result())).toMap
    val qs = trace.queriesIn(t0, t1)
    val st = trace.stagesIn(t0, t1)
    val perLayer = Modules.map { case (m, names) =>
      s"queries.$m.total_s" -> names.filter(Names.contains).map(medians).sum / 1000
    }.toMap ++ Heaviest.map(q => s"queries.${q}_s" -> medians(q) / 1000) ++ Map(
      "queries.total_s" -> medians.values.sum / 1000,
      "queries.geomean_ms" -> Stats.geomean(medians.values.toSeq),
      "queries.plan_s" -> qs.map(_.planMs).sum / 1000 / Passes,
      "queries.exec_s" -> qs.map(_.execMs).sum / 1000 / Passes,
      "queries.shuffle_mb" -> st.map(_.shuffleWriteBytes).sum / 1048576.0 / Passes,
      "queries.spill_mb" -> st.map(_.spillBytes).sum / 1048576.0 / Passes,
      "queries.task_skew_max" -> st.filter(_.medianTaskMs > 0)
        .map(s => s.maxTaskMs / s.medianTaskMs).maxOption.getOrElse(1.0))
    Outcome(attempted, mismatches.result(), perLayer,
      Map("warm_up_ms" -> warmUpMs, "per_query_median_ms" -> medians, "passes" -> Passes))
  }
}
