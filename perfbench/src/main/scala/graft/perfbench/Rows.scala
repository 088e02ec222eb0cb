package graft.perfbench

/** The query rows of the batch workload, grouped by the operator module
  * that implements them, in two tiers that run at their own scale. The
  * lists are explicit (not read from each module's `queries` map) so
  * that a commit adding a row to a module does not change what the
  * benchmark measures. */
object Rows {
  type Modules = Seq[(String, Seq[String])]

  /** A tier: modules whose rows read the test tables at scale `sf`. */
  final case class Tier(name: String, sf: String, modules: Modules)

  /** The MDF Connect service surface: scans, pushdown, codegen and small
    * exchanges; no text kernels, no trained artifacts. One row per
    * module: every row costs about 0.2-1.5 s whatever the scale
    * (per-query overhead dominates), and a run must stay within the
    * benchmark's time budget (see README.md for the rows left out). */
  val catalog: Modules = Seq(
    "ScanOps" -> Seq("q_scan_filter_project"),
    "VersionOps" -> Seq("q_version_resolution"),
    "StatusOps" -> Seq("q_status_rollup"),
    "SubmitOps" -> Seq("q_validate_submission"),
    "OrgOps" -> Seq("q_org_rules_full"),
    "TransferOps" -> Seq("q_transfer_items"),
    "AnalyticsOps" -> Seq("q3_shipping_priority"),
    "JoinOps" -> Seq("q_asof_native"))

  /** The LLM-data batch tier: native kernels, pair-mining shuffles,
    * fixpoint job chains, checkpoints and session-cached artifacts. One
    * row per module, for the same budget reason. */
  val curate: Modules = Seq(
    "DedupOps" -> Seq("q_dedup_ngram_jaccard"),
    "QualityModelOps" -> Seq("q_quality_ensemble"),
    "TextFunctions" -> Seq("q_token_rarity"),
    "BpeOps" -> Seq("q_bpe_ids_bytes"),
    "PipelineOps" -> Seq("q_contamination_bloom"),
    "SearchOps" -> Seq("q_bm25_topk"),
    "AnnOps" -> Seq("q_ann_ivf"),
    "GraphOps" -> Seq("q_graph_pagerank"))

  /** Catalog rows read sf0.1. Curate rows read sf0.01: their documents
    * and embeddings tables differ from sf0.1's only in size, and at
    * either size these rows are bound by per-stage overhead. */
  val tiers: Seq[Tier] = Seq(Tier("catalog", "sf0.1", catalog), Tier("curate", "sf0.01", curate))

  val modules: Modules = tiers.flatMap(_.modules)

  /** Rows run once, untimed, in traced runs only: their outputs feed a
    * per-layer quality ratio (the IVF-PQ recall). */
  val traceProbes: Seq[(String, String)] = Seq("q_ann_ivfpq" -> "sf0.01")

  /** Modules whose rows train an artifact into the session cache on
    * their first execution and read it on later ones. Their first-pass
    * time is reported, and their rows' outputs are checked from both
    * paths: the first pass and a write after the steady passes. */
  val artifactModules: Seq[String] =
    Seq("DedupOps", "PipelineOps", "AnnOps", "QualityModelOps", "SearchOps")
}
