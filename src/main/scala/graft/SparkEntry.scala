package graft

import graft.gates.Gate
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query contract. Each query and its DuckDB oracle are defined once,
  * side by side, as a [[graft.gates.Gate]] in the domain objects under
  * `graft.gates`; `queries` and `oracleSql` are two views of that one
  * registry, so their names cannot drift apart.
  */
object SparkEntry {

  /** tio_prune_hash probe set (spec constant shared with the oracle):
    * three existing ids — present at every SF (ids are 0-based and every
    * SF ships ≥ 500 docs) — plus one id that was never written, which
    * only a Bloom false positive can cost a bucket read.
    */
  val PruneHashProbeIds: Seq[String] =
    Seq(0L, 7L, 42L).map(i => f"d$i%010d") :+ "d9999999998"

  private lazy val gates: Map[String, Gate] = Gate.byName(Gate.all)

  /** Flagship query: the ext_kind_counts gate over the sf0.001 tables;
    * a smoke check expects rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    gates("ext_kind_counts").run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, g) => name -> g.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    gates.map { case (name, g) => name -> g.oracle }
}
