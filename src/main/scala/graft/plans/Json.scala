package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The engine's one JSON encoder (Jackson, as shipped with Spark): compact
  * output in insertion key order, string escaping done by the library.
  * Strictness is the caller's half of the contract: put a non-finite
  * double through [[num]], which writes null instead of a bare `NaN`.
  */
object Json {

  private val mapper = new ObjectMapper()

  def obj(): ObjectNode = mapper.createObjectNode()

  def num(o: ObjectNode, key: String, v: Double): ObjectNode =
    if (v.isFinite) o.put(key, v) else o.putNull(key)

  def write(n: JsonNode): String = mapper.writeValueAsString(n)
}
