package perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The run record as JSON: ordered maps, sequences, numbers and strings. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def obj(kvs: (String, Any)*): ListMap[String, Any] = ListMap(kvs: _*)
  def write(value: Any): String = mapper.writeValueAsString(value)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
