package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}

/** Writes every gate's oracle SQL to one oracle_sql.json without running
  * any query — the input `tools/diff_oracle_sql.py` compares across two
  * checkouts:
  * `sbt "Test/runMain graft.OracleDump <out>/oracle_sql.json"`.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    Option(out.getParent).foreach(Files.createDirectories(_))
    Files.writeString(out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(SparkEntry.oracleSql))
  }
}
