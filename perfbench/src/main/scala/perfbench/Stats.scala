package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest sample with at least ten samples beyond it, as
    * (value, percentile, samples beyond). With ten samples or fewer no
    * sample qualifies and the slowest one is returned, with 0 beyond.
    */
  def tail(xs: scala.collection.Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (s.last, 100.0, 0)
    else (s(n - 11), 100.0 * (n - 10) / n, 10)
  }
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}
