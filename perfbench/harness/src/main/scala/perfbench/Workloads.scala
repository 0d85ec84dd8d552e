package perfbench

/** What each workload runs. BENCHMARK.json records why. */
object Workloads {
  /** The query workload: one query per operator family, from the relational
    * packs (MetaQueries, JoinQueries, AnalyticsQueries) and the LLM-pipeline
    * packs (TextQueries, VectorQueries). Each is the query of its family
    * whose warm time was nearest the family's median in a survey of all
    * 169 (`run.py --workload survey --trace 1`; figures in README.md). A
    * pass runs each once: the cold pass in this order, each warm pass in an
    * order the seed permutes.
    */
  val queries: Seq[String] = Seq(
    "q_agg_percentile", "q_compact_lww", "q_join_interval_rule", "q_report_custdist",
    "q_scan_pruned", "q_time_ewma", "q_window_firstlast",
    "q_dedup_embed", "q_graph_clustercoef", "q_multimodal_audio", "q_sample_stratified",
    "q_simsearch_ivf2", "q_text_editdist")

  /** Output file size the bulk compaction plans its file count for. */
  val targetFileBytes: Long = 2L << 20

  private val families = Seq("dedup", "simsearch", "multimodal", "text", "graph", "sample",
    "join", "report", "window", "agg", "time", "scan", "compact")

  /** Operator family of a query key: its first word after `q_`. */
  def family(query: String): String = {
    val f = query.stripPrefix("q_").takeWhile(_ != '_')
    if (families.contains(f)) f else "other"
  }
}
