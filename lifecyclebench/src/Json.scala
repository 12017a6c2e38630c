package lifecyclebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result line, the detail files and the span dump:
  * Jackson (shipped with Spark) with its Scala module. Pass a
  * `ListMap` where field order matters. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
