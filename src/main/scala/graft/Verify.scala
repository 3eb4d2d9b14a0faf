package graft
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Set[String] =
      if (args.length > 2) args(2).split(',').toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val ran = SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }
    ran.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a dump left by an earlier run must not stand in for this one
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      }
    }
    // the oracles of exactly the queries run: one that threw has no
    // output dir, and the compare counts it as a failure
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(
        SparkEntry.oracleSql.filter { case (name, _) => ran.contains(name) }))
    spark.stop()
  }
}
