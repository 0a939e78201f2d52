package graftbench

/** The benchmark's workloads: which `graft.SparkEntry` rows run, on
  * which input tables. Every workload reads the committed sf0.01 tables
  * (`perfbench/data/sf0.01`); `scaleCopies > 1` derives a larger input
  * from them with `graft.ScaleUp` during set-up. */
final case class Workload(name: String, scaleCopies: Int, queries: Seq[String]) {
  def sfLabel: String = if (scaleCopies > 1) s"sf0.01 x$scaleCopies (graft.ScaleUp, 32 files)" else "sf0.01"
}

object Workloads {

  /** Rows that re-express the reference pipelines' relational
    * operators, plus the SQL family: fixed per-query overhead dominates. */
  val reference: Seq[String] = Seq(
    "q_p1_project", "q_p3_filter_eq", "q_p5_conjunctive", "q_p7_semi", "q_p8_dupcheck",
    "q_j1_interval", "q_j2_left", "q_j3_recon", "q_j4_counts", "q_j5_anti",
    "q_j6_indicator", "q_j7_lookup", "q_j8_merge", "q_j17_reciprocal",
    "q_g1_explode", "q_g2_pairing", "q_g3_split_explode", "q_g4_ft",
    "q_a3_distinct", "q_a4_droprows", "q_a5_dedup_first", "q_a5c_prefer",
    "q_a7_union", "q_a8_colbind", "q_a9_except",
    "q_v1_pivot", "q_v2_pivot_discrete", "q_v4_melt",
    "q_f_strings", "q_f3_info", "q_f5_gtf", "q_f7_names", "q_f9_gistic",
    "q_f14_md5", "q_f16_hgvs",
    "q_o6_topk", "q_o7_skyline", "q_o8_topk_ties", "q_w_funcs",
    "q_sql_rollup", "q_sql_cube", "q_sql_gsets", "q_sql_exists", "q_sql_notin",
    "q_sql_frames", "q_sql_agg", "q_sql_join3", "q_sql_join5")

  /** Compute-heavy rows: executor CPU and shuffle dominate. */
  val scale: Seq[String] = Seq(
    "q_v3_wide", "q_j13_closest", "q_j13_closest_br", "q_j11_depth",
    "q_j12_subtract", "q_d_pipeline", "q_d_prefix", "q_x_drift",
    "q_a5_dedup_first", "q_sql_join3")

  /** Store-writing rows: parquet stores, eager checkpoints and pins
    * beside the reads. */
  val ingest: Seq[String] = Seq(
    "q_d_ingest2", "q_d_ingest3", "q_d_ingest4", "q_d_incr", "q_d_incr_lsh",
    "q_d_incr_lsh2", "q_s_ingest", "q_x_upsert", "q_x_cdc", "q_x_scd2",
    "q_x_incragg")

  val all: Seq[Workload] = Seq(
    Workload("reference_sf0.01", 1, reference),
    Workload("scale_sf0.1", 10, scale),
    Workload("ingest_sf0.01", 1, ingest))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      sys.error(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}
