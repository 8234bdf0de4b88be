package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the harness's output files: Scala maps, sequences and
  * options through Jackson's Scala module. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
