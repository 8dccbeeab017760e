package logbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Writes the result files run.py reads. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeFile(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
