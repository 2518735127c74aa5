package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Process-local product metrics in Prometheus text exposition format —
  * the analog of the reference's import instrumentation
  * (app/utils/onadata_utils.py:37-47: `in_progress_hyper_import` gauge,
  * `successful_hyper_database_imports` / `failed_hyper_database_imports`
  * counters) plus the request counting its PrometheusMiddleware adds
  * (app/main.py:50-53). Served by `GET /metrics` on
  * [[graft.serve.Serve]], no auth (the reference mounts it outside the
  * authed API router, app/main.py:64).
  *
  * Executor-side Spark metrics (task time, shuffle bytes, memory) stay
  * with Spark's own metrics system/UI — these counters are PRODUCT
  * semantics (did the import pipeline succeed), which Spark cannot know.
  *
  * Counters only ever increase and the gauge is an inc/dec pair, so
  * plain atomics suffice; the registry of request label pairs is bounded
  * by (#handlers × #methods).
  */
class Metrics {

  private val inProgress = new AtomicLong(0)
  private val successful = new AtomicLong(0)
  private val failed = new AtomicLong(0)
  private val requests = new ConcurrentHashMap[(String, String), AtomicLong]()

  /** Import lifecycle: gauge up while a sync's batch body runs. */
  def importStarted(): Unit = { inProgress.incrementAndGet(); () }
  def importFinished(): Unit = { inProgress.decrementAndGet(); () }

  /** Outcome counters — called from the single catalog accounting choke
    * point ([[graft.catalog.MetaStore.recordSyncResult]]), so every sync
    * path (scheduled tick, manual trigger, publish retry) is counted
    * without per-caller wiring.
    */
  def importSucceeded(): Unit = { successful.incrementAndGet(); () }
  def importFailed(): Unit = { failed.incrementAndGet(); () }

  private val KnownMethods =
    Set("GET", "POST", "PUT", "PATCH", "DELETE", "HEAD", "OPTIONS")

  /** One HTTP request seen by `handler` (route group) with `method`.
    * The method string is CLIENT-CONTROLLED on an unauthenticated
    * surface (request counting runs before auth, and the JDK httpserver
    * accepts any token as a method), so it is normalized to a known
    * verb or "OTHER" — otherwise unique garbage methods would grow the
    * registry without bound and a quote in the raw token would corrupt
    * the exposition text for every later scrape.
    */
  def request(handler: String, method: String): Unit = {
    val m = if (method != null && KnownMethods.contains(method)) method else "OTHER"
    requests.computeIfAbsent((handler, m), _ => new AtomicLong(0))
      .incrementAndGet()
    ()
  }

  /** Prometheus text format 0.0.4. Counter metric NAMES carry the
    * `_total` suffix the python client appends at exposition time, so a
    * scraper migrating from the reference keeps its series names.
    */
  def render: String = {
    val sb = new StringBuilder
    sb ++= "# HELP in_progress_hyper_import Number of Import processes currently running\n"
    sb ++= "# TYPE in_progress_hyper_import gauge\n"
    sb ++= s"in_progress_hyper_import ${inProgress.get()}.0\n"
    sb ++= "# HELP successful_hyper_database_imports_total Number of successful imports to a hyper database\n"
    sb ++= "# TYPE successful_hyper_database_imports_total counter\n"
    sb ++= s"successful_hyper_database_imports_total ${successful.get()}.0\n"
    sb ++= "# HELP failed_hyper_database_imports_total Number of failed imports to a hyper database\n"
    sb ++= "# TYPE failed_hyper_database_imports_total counter\n"
    sb ++= s"failed_hyper_database_imports_total ${failed.get()}.0\n"
    sb ++= "# HELP duva_requests_total Requests by route group and method\n"
    sb ++= "# TYPE duva_requests_total counter\n"
    // stable output order: label pairs sorted, so scrapes diff cleanly
    val reqs = {
      val it = requests.entrySet().iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[((String, String), Long)]
      while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue.get()) }
      buf.sortBy(_._1)
    }
    reqs.foreach { case ((handler, method), n) =>
      sb ++= s"""duva_requests_total{handler="$handler",method="$method"} $n.0\n"""
    }
    sb.result()
  }
}
