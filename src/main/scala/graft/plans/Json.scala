package graft.plans

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The engine's one JSON encoder and parser (Jackson, as shipped with
  * Spark): compact output in insertion key order, string escaping done by
  * the library. Strictness is the caller's half of the contract: put a
  * non-finite double through [[num]], which writes null instead of a bare
  * `NaN`. [[read]] is strict too: Jackson's defaults reject bare
  * NaN/Infinity, and trailing tokens are rejected.
  */
object Json {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  def obj(): ObjectNode = mapper.createObjectNode()

  /** `v` under `key`, rounded half-up to `digits` decimals when given. */
  def num(o: ObjectNode, key: String, v: Double, digits: Int = -1): ObjectNode =
    if (v.isFinite) o.put(key, round(v, digits)) else o.putNull(key)

  /** `xs` as an array under `key`, each value written as [[num]] would. */
  def nums(o: ObjectNode, key: String, xs: Seq[Double],
           digits: Int = -1): ObjectNode = {
    val a = o.putArray(key)
    xs.foreach(x => if (x.isFinite) a.add(round(x, digits)) else a.addNull())
    o
  }

  private def round(v: Double, digits: Int): Double =
    if (digits < 0) v
    else BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble

  def write(n: JsonNode): String = mapper.writeValueAsString(n)

  def read(s: String): JsonNode = mapper.readTree(s)
}
