package graft.gates

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One oracle-gated query: `run` builds its Spark plan over the parquet
  * tables under an sf directory (TESTDATA.md), and `oracle` is ANSI SQL
  * that DuckDB runs over the same tables to produce the expected rows.
  * Aggregates derived from doubles are made integer-exact (cents,
  * counts) so the compare is bit-stable.
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
                      oracle: String)

object Gate {

  /** Every gate, by domain. */
  lazy val all: Seq[Gate] =
    ExtractionGates.all ++ RelationalGates.all ++ TextGates.all ++
      MediaGates.all ++ TableGates.all ++ DecodeGates.all

  /** Name-keyed view of `gates`; a name defined twice raises
    * IllegalStateException naming it, since a map would keep only one.
    */
  def byName(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    if (dups.nonEmpty) throw new IllegalStateException(
      s"duplicate gate name(s): ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }

  private[gates] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** A plan that is one operator over the documents table. */
  private[gates] def overDocs(op: (SparkSession, DataFrame) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => op(s, t(s, dir, "documents"))

  /** The documents table's ids: the seed of every synthesized input. */
  private[gates] def docIds(s: SparkSession, dir: String): Dataset[Long] = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id").as[Long]
  }

  /** `body` over a new empty directory, so every execution of a gate that
    * writes a table or files starts from nothing. The body's rows are
    * materialized (`localCheckpoint`) before the directory is deleted. */
  private[gates] def inFreshDir(tag: String)(body: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    try body(dir.toString).localCheckpoint()
    finally graft.pipeline.TableIO.deleteRecursively(dir)
  }

  private[gates] def md5iSql(e: String): String =
    graft.functions.Hashing.md5iSql(e)
}
