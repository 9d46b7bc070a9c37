package graft.streaming

import scala.util.control.NonFatal

import graft.GraftEngine

/** The engine side of the sidecar decision loop, made operational: the
  * reference runs a 10-second background reporter that pushes serving
  * metrics to the AI sidecar and applies the policy replies to its live
  * cache config (reference: Services/SidecarMetricsReporter.cs:52-110 →
  * Policies/DynamicPolicyEngine.cs:31-45). Each [[tick]] is one
  * ReportSystemMetrics call over [[SidecarWire]]'s proto frames: the
  * reference's RPC is GLOBAL, so the tick aggregates the engine's live
  * serving counters across tenants into one SystemMetricsRequest and
  * applies the single WarmPathPolicy the sidecar replies with to every
  * tenant currently serving ([[GraftEngine.applyServingPolicy]]), so
  * subsequent wire misses cache under the new TTL. A tick submits no
  * Spark job.
  *
  * Ticks are deterministic and callable directly for tests; [[start]]
  * wraps them in a daemon thread at the reference's cadence. A tick never
  * throws into the loop thread — a refused, skewed or timed-out exchange
  * fails that tick loudly in the log and the engine keeps serving under
  * its last applied policy (the reference likewise treats sidecar failure
  * as "keep current policy", SidecarMetricsReporter's catch path). */
final class SidecarLoop(engine: GraftEngine, client: SidecarWire.Client) {

  /** One loop iteration: report the live counters stamped `windowMs`,
    * apply the reply's policy. The exchange fails after `timeoutMs`. */
  def tick(windowMs: Long, timeoutMs: Int = SidecarWire.DefaultTimeoutMs): Unit = {
    val counters = engine.servingCountersLive
    val hits = counters.map(_._3).sum
    val misses = counters.map(_._4).sum
    val total = hits + misses
    val resp = client.exchangeProto(SidecarProto.SystemMetricsRequest(
      missRate = if (total > 0) misses.toDouble / total else 0.0,
      cacheHitTotal = hits, cacheMissTotal = misses,
      timestampUnixMs = windowMs), timeoutMs)
    resp.policy.foreach { p =>
      counters.map(_._1).distinct.foreach(t => engine.applyServingPolicy(t,
        p.ttlSeconds, p.admissionThreshold,
        SidecarProto.evictionName(p.evictionPriority)))
    }
  }

  @volatile private var runner: Thread = _
  @volatile private var running = false
  private val pause = new Object

  /** Run [[tick]] every `intervalMs` (reference default: 10 s) on a
    * daemon thread. Each exchange is bounded by the interval: a tick that
    * cannot finish before the next one is due has failed. */
  def start(intervalMs: Long = 10000L): Unit = {
    require(runner == null, "sidecar loop already started")
    require(intervalMs > 0, s"sidecar interval must be positive: $intervalMs")
    val timeoutMs = math.min(intervalMs, Int.MaxValue.toLong).toInt
    running = true
    runner = new Thread(() => {
      while (running) {
        try tick(System.currentTimeMillis(), timeoutMs)
        catch {
          case NonFatal(e) =>
            System.err.println(s"[sidecar-loop] tick failed: ${e.getMessage}")
        }
        // wait/notify, NOT sleep+interrupt: close() lets an in-flight
        // exchange finish (it is bounded by the interval)
        pause.synchronized { if (running) pause.wait(intervalMs) }
      }
    }, "graft-sidecar-loop")
    runner.setDaemon(true)
    runner.start()
  }

  /** Stop the loop, letting an in-flight tick finish (bounded join). */
  def close(): Unit = {
    running = false
    pause.synchronized { pause.notifyAll() }
    if (runner != null) {
      runner.join(30000)
      runner = null
    }
  }
}
