package etlbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._

/** The JSON the benchmark exchanges with its Python runner: the run plan
  * in, the raw result out, both with the Jackson that Spark bundles (and
  * its Scala module). */
object Json {
  def read(path: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(path))

  def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq
  def strings(n: JsonNode): Seq[String] =
    n.elements.asScala.map(_.asText).toSeq

  /** Write maps, sequences, options, strings, numbers and booleans. */
  def write(path: String, v: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(path), v)
}
