package graft.serve

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** Operational metrics in Prometheus text exposition format
  * (SURVEY §2.A27; reference `lib/src/server/metrics.rs` /
  * `statistics.rs`: http latency, session counters, memory gauges).
  *
  * Lock-free (`LongAdder` per series) so the hot request path pays
  * two adds; rendering walks the maps. Latency is exported as a
  * summary (`_sum`/`_count`) per route — rate and mean latency are
  * what the reference's histograms get scraped for.
  */
final class Metrics {

  private val requestCount = new ConcurrentHashMap[String, LongAdder]()
  private val requestNanos = new ConcurrentHashMap[String, LongAdder]()
  val sessionsCreated = new LongAdder
  val dataSourcesRegistered = new LongAdder
  private val startedAtMs = System.currentTimeMillis()

  private def adder(m: ConcurrentHashMap[String, LongAdder], k: String): LongAdder =
    m.computeIfAbsent(k, _ => new LongAdder)

  /** Record one served request for the route (context path). */
  def record(route: String, nanos: Long): Unit = {
    adder(requestCount, route).increment()
    adder(requestNanos, route).add(nanos)
  }

  def render(activeSessions: Int, cache: ResultCache): String = {
    val sb = new StringBuilder
    def gauge(name: String, help: String, v: Double): Unit =
      sb.append(s"# HELP $name $help\n# TYPE $name gauge\n$name $v\n")
    def counter(name: String, help: String, v: Double): Unit =
      sb.append(s"# HELP $name $help\n# TYPE $name counter\n$name $v\n")
    sb.append("# HELP graft_http_requests_total Served requests per route\n")
    sb.append("# TYPE graft_http_requests_total counter\n")
    requestCount.asScala.toSeq.sortBy(_._1).foreach { case (r, n) =>
      sb.append(s"""graft_http_requests_total{route="$r"} ${n.sum()}""").append('\n')
    }
    sb.append("# HELP graft_http_request_seconds Request latency summary per route\n")
    sb.append("# TYPE graft_http_request_seconds summary\n")
    requestNanos.asScala.toSeq.sortBy(_._1).foreach { case (r, n) =>
      val cnt = Option(requestCount.get(r)).map(_.sum()).getOrElse(0L)
      sb.append(s"""graft_http_request_seconds_sum{route="$r"} ${n.sum() / 1e9}""").append('\n')
      sb.append(s"""graft_http_request_seconds_count{route="$r"} $cnt""").append('\n')
    }
    counter("graft_sessions_created_total", "Sessions created", sessionsCreated.sum().toDouble)
    gauge("graft_sessions_active", "Live (unexpired) sessions", activeSessions.toDouble)
    counter("graft_datasources_registered_total", "Data sources ingested",
      dataSourcesRegistered.sum().toDouble)
    sb.append("# HELP graft_result_cache_requests_total Session queries by result-cache outcome\n")
    sb.append("# TYPE graft_result_cache_requests_total counter\n")
    Seq("hit" -> cache.hits, "miss" -> cache.misses, "bypass" -> cache.bypasses).foreach {
      case (o, n) => sb.append(s"""graft_result_cache_requests_total{outcome="$o"} ${n.sum()}""").append('\n')
    }
    counter("graft_result_cache_evictions_total", "Result-cache entries evicted to stay under the byte cap",
      cache.evictions.sum().toDouble)
    gauge("graft_result_cache_bytes", "Bytes charged by live result-cache entries", cache.bytes.toDouble)
    val rt = Runtime.getRuntime
    gauge("graft_jvm_heap_used_bytes", "JVM heap in use",
      (rt.totalMemory() - rt.freeMemory()).toDouble)
    gauge("graft_jvm_heap_max_bytes", "JVM max heap", rt.maxMemory().toDouble)
    gauge("graft_uptime_seconds", "Server uptime",
      (System.currentTimeMillis() - startedAtMs) / 1000.0)
    sb.toString
  }
}
