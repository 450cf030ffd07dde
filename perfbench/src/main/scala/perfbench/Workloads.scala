package perfbench

/** The benchmark's workloads: a fixed gate set each, at one scale factor.
  * The seed only permutes the gate order of every pass. */
object Workloads {
  /** @param warmup    gate run once per setup round, before timing
    * @param layouts   gates whose first call builds an on-disk layout
    *                  that later calls only probe (or, for the append
    *                  gates, a base they re-append to); built in setup
    */
  final case class Workload(name: String, sf: String, gates: Seq[String],
      warmup: String, layouts: Seq[String])

  /** Session starts per run; setup_s is their median. */
  val SetupRounds = 3

  val relational = Workload("relational", "sf0.1", Seq(
    "q01_scan_filter_project", "q16_window_running", "q74_asof_native",
    "q82_cms_heavy_hitters", "st09_stream_latest"),
    warmup = "q01_scan_filter_project", layouts = Nil)

  val planBound = Workload("plan_bound", "sf0.001", Seq(
    "q01_scan_filter_project", "sq05_sql_group_by_all", "d01_dedup_exact",
    "t40_bpe_apply", "m01_binary_meta", "lx01_lineage_scan_project"),
    warmup = "q01_scan_filter_project", layouts = Seq("t40_bpe_apply"))

  val all: Seq[Workload] = Seq(relational, planBound)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap
}
