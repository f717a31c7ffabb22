package perfbench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The benchmark's one JSON encoder and parser (Jackson, as shipped with
  * Spark). Every record it writes is strict JSON: a non-finite double is
  * written as null, never as a bare `NaN`/`Infinity`.
  */
object Json {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  def obj(): ObjectNode = mapper.createObjectNode()

  def num(o: ObjectNode, key: String, v: Double): ObjectNode =
    if (v.isNaN || v.isInfinite) o.putNull(key) else o.put(key, v)

  /** `{"value": v, "unit": u}`, the shape of every reported metric. */
  def metric(v: Double, unit: String): ObjectNode =
    num(obj(), "value", v).put("unit", unit)

  def write(n: JsonNode): String = mapper.writeValueAsString(n)

  /** Strict parse: Jackson's defaults reject bare NaN/Infinity, and
    * trailing tokens are rejected too.
    */
  def parse(text: String): Option[JsonNode] =
    try Some(mapper.readTree(text)) catch { case _: Exception => None }

  def readFile(path: String): JsonNode =
    mapper.readTree(new java.io.File(path))
}
