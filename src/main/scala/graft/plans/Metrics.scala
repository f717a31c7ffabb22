package graft.plans

/** The engine's one diagnostic writer: every diagnostic is a strict-JSON
  * line on stderr whose first key is `event` (README, "Diagnostics").
  * Fallback counters serve "reported, never silent" events (the repo rule
  * established at EdgeDeriver's hub cap): an operator that takes a
  * capped/fallback path instead of its full work MUST call [[event]], so
  * tests and the bench can assert the fallback was (or wasn't) taken.
  */
object Metrics {

  private val counters =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  /** `{"event": event, fields...}` as one stderr line, written out when
    * this returns (System.err flushes on println): doubles through
    * [[Json.num]] (non-finite → null), integers and booleans typed, null
    * as null, anything else as its string.
    */
  def log(event: String, fields: (String, Any)*): Unit = {
    val o = Json.obj().put("event", event)
    fields.foreach {
      case (k, v: Double) => Json.num(o, k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Int) => o.put(k, v)
      case (k, v: Boolean) => o.put(k, v)
      case (k, null) => o.putNull(k)
      case (k, v) => o.put(k, v.toString)
    }
    System.err.println(Json.write(o))
  }

  /** Wall seconds since `t0` (a `System.nanoTime`), to the millisecond. */
  def secondsSince(t0: Long): Double =
    math.round((System.nanoTime() - t0) / 1e6) / 1e3

  /** Bump `name` and log a `fallback` event with the event's context. */
  def event(name: String, detail: String): Unit = {
    counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.LongAdder())
      .increment()
    log("fallback", "name" -> name, "detail" -> detail)
  }

  def count(name: String): Long = {
    val c = counters.get(name)
    if (c == null) 0L else c.sum()
  }

  /** Immutable snapshot of every counter (for bench/ledger emission). */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }

  def reset(): Unit = counters.clear()
}
