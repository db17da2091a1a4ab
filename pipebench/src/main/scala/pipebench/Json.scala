package pipebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The JSON the harness writes for run.py. Jackson prints numbers with
  * `Double.toString`, so the output does not depend on the default
  * locale (a `%f` format would print `1,5` under a comma-decimal one).
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
