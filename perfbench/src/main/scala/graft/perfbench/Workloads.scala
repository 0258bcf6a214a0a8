package graft.perfbench

/** The benchmark's workloads: each is a fixed sequence of
  * `SparkEntry.queries`, run in order with caches left standing between
  * the queries of one pass. */
object Workloads {
  val sequences: Map[String, Seq[String]] = Map(
    "knn_exact" -> Seq("knn_classify", "knn_topk", "knn_ksweep",
      "knn_topk_agg", "knn_radius"),
    "ann_lifecycle" -> Seq("ann_index_build", "ann_ivf_topk_indexed",
      "ann_index_upsert", "ann_ivf_topk_upserted"),
    "analytics_mix" -> Seq("b07_agg_q1", "b03_join_broadcast",
      "c01_dedup_exact", "c17_shingle_jaccard", "d01_window_tumbling",
      "g02_pagerank"))

  /** Cycles a run measures at least, whatever `--seconds` says. The
    * analytics passes are short and their time flips with the join plan
    * AQE picks inside `c17_shingle_jaccard`; the median of two cycles
    * halves that noise. */
  def minCycles(workload: String): Int =
    if (workload == "analytics_mix") 2 else 1

  /** Queries a traced run adds after the measured cycles, in one cold
    * pass of their own: they give per-layer metrics and are checked, but
    * are not in `cold_s`/`warm_s`. The NSW and IVF-PQ tiers cost ~8 s
    * cold and ~5 s warm, which the benchmark's time budget cannot carry
    * in every run. */
  def traceOnly(workload: String): Seq[String] = workload match {
    case "ann_lifecycle" => Seq("ann_nsw_topk_indexed", "ann_ivfpq_topk")
    case _ => Nil
  }

  /** The per-layer metrics a traced run of a workload reports, as
    * metric-name prefixes (a layer, or one probe of the `functions`
    * layer). A declared per-layer metric outside them is of a layer the
    * workload does not touch and reads 0; one inside them must be
    * reported. */
  def layers(workload: String): Seq[String] = {
    val probes =
      if (workload == "analytics_mix") Seq("functions.shingle_docs_per_s")
      else Seq("functions.cosine_pairs_per_s", "functions.topk_by_rows_per_s")
    Seq("session", "catalyst", "tables", "cache", "spark", "trace") ++ probes ++
      (sequences(workload) ++ traceOnly(workload)).map(module).distinct
  }

  /** The repo module (`graft.ops.*` object) that owns a query, as used
    * in per-layer metric names. */
  def module(query: String): String = query match {
    case "ann_nsw_topk_indexed" => "nsw"
    case q if q.startsWith("knn_") => "knn"
    case q if q.startsWith("ann_") => "ann"
    case q if q.startsWith("b") => "relational"
    case q if q.startsWith("c") => "textops"
    case q if q.startsWith("d") => "eventops"
    case q if q.startsWith("g") => "graph"
    case q => sys.error(s"no module mapping for $q")
  }
}
