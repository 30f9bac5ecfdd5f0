package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's envelopes, result and trace files: Jackson
  * with its Scala module (both ship with Spark). */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A JSON string literal. */
  def str(s: String): String = mapper.writeValueAsString(s)

  def parse(s: String): JsonNode = mapper.readTree(s)
}
