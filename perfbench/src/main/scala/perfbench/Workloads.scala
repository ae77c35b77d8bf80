package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A fixed list of registered queries plus the shared `Tables` views they
  * read (materialised during set-up).
  */
final case class Workload(name: String, queries: Seq[String], views: Seq[String])

object Workloads {

  /** Warm passes every run makes, however long they take; the query
    * percentiles are defined on this many passes' samples.
    */
  val minWarmPasses = 4

  /** The cached `Tables` views, by their cache key. */
  val views: Map[String, (SparkSession, String) => DataFrame] = Map(
    "beta" -> graft.Tables.betaLong,
    "detp" -> graft.Tables.detpLong,
    "sheet" -> graft.Tables.sampleSheet,
    "manifest" -> graft.Tables.probeManifest,
    "idat" -> graft.Tables.idatLong,
    "anno" -> graft.Tables.chipAnnotation)

  /** The paper's workflow, one query per stage: QC sample filter → BMIQ →
    * ComBat → moderated DMP → PCA.
    */
  val methylPipeline = Workload("methyl_pipeline", Seq(
    "p09_qc_sample_filter", "k06_bmiq_normalize", "k05_combat_adjust",
    "k03_dmp_moderated", "k01_pca_scaled"),
    Seq("beta", "detp", "sheet", "manifest"))

  /** Short queries where fixed per-query cost dominates. Chosen from the
    * tier a/c/f/j/p/r/so/w queries that are not in methyl_pipeline, write
    * nothing under the program's scratch directory and took under 0.5 s
    * warm with full output on the benchmark's data: every fourth in name
    * order, then the 16 fastest of those.
    */
  val shortMix = Workload("short_mix", Seq(
    "a01_group_collect", "a07_distinct", "a17_expectations", "a21_cube",
    "a32_partial_corr", "c12_shuffle_shards", "f03_concat_keys",
    "f14_json_extract", "j09_asof_join", "j13_asof_join_exec",
    "p01_prune_by_name", "p14_significance_filter", "r05_melt_unpivot",
    "r12_snapshot_diff", "w04_rolling_avg", "w08_sessionize"),
    Seq("beta", "detp", "sheet", "manifest"))

  val all: Seq[Workload] = Seq(methylPipeline, shortMix)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}
