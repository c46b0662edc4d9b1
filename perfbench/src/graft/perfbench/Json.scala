package graft.perfbench

import java.nio.file.Path
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

/** JSON output (the result line and the run report) and input, through Jackson. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def read(p: Path): JsonNode = mapper.readTree(p.toFile)

  def elements(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}

/** The metric names and units BENCHMARK.json declares. */
final case class Spec(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

object Spec {
  def load(p: Path): Spec = {
    val root = Json.read(p)
    def metrics(key: String) = Json.elements(root.get(key)).map(m => m.get("name").asText -> m.get("unit").asText)
    Spec(metrics("end_to_end"), metrics("per_layer"))
  }
}
