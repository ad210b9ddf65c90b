package graftbench

import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.util.control.NonFatal

import graft.query.LocalSearcher

/** Latencies of one fixed-rate phase, in ms from each query's scheduled
  * send time; a failed or wrong response counts as +infinity. */
final case class PhaseResult(rate: Double, sent: Int, latencyMs: Seq[Double],
    queueWaitMs: Seq[Double], lagMs: Seq[Double], failed: Int,
    overloaded: Boolean, pendingAtEnd: Int) {
  def p(q: Double): Double = Stats.pct(latencyMs, q)
  /** Both phases' samples, as one phase at this rate. */
  def ++(o: PhaseResult): PhaseResult = PhaseResult(rate, sent + o.sent,
    latencyMs ++ o.latencyMs, queueWaitMs ++ o.queueWaitMs, lagMs ++ o.lagMs,
    failed + o.failed, overloaded || o.overloaded, pendingAtEnd + o.pendingAtEnd)
}

/** Open-loop load on one in-process serving image: a generator sends
  * queries on a fixed schedule to `workers` threads, whatever the replies
  * do, so a stall delays every later query and the queue can grow. Every
  * response must equal the first response seen for the same query. */
final class OpenLoop(ctx: Ctx, li: LocalSearcher.LocalIndex, workers: Int) {
  private val pool = Executors.newFixedThreadPool(workers, new ThreadFactory {
    private val n = new AtomicInteger(0)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graftbench-worker-${n.getAndIncrement()}")
      t.setDaemon(true)
      t
    }
  })
  private val firstSeen = new ConcurrentHashMap[Query, Seq[LocalSearcher.Hit]]()
  private val requests = new AtomicInteger(0)

  /** Sends `rate` q/s for `seconds`. With `abortOnBacklog` the phase stops
    * sending once the backlog passes what the rate clears in 100 ms — the
    * rate is then over capacity, and the remaining sends would only queue. */
  def run(rate: Double, seconds: Double, mix: QueryMix, abortOnBacklog: Boolean): PhaseResult = {
    val n = math.max(1, (rate * seconds).toInt)
    val period = 1e9 / rate
    val lat = Array.fill(n)(Double.PositiveInfinity)
    val wait = new Array[Double](n)
    val lag = new Array[Double](n)
    val completed = new AtomicInteger(0)
    val failed = new AtomicInteger(0)
    val backlogLimit = math.max(32, (rate * 0.1).toInt)
    val t0 = System.nanoTime() + 1000000L
    var i = 0
    var overloaded = false
    while (i < n && !overloaded) {
      val due = t0 + (i * period).toLong
      var now = System.nanoTime()
      while (now < due) {
        val d = due - now
        if (d > 200000L) LockSupport.parkNanos(d - 100000L) else Thread.onSpinWait()
        now = System.nanoTime()
      }
      lag(i) = (now - due) / 1e6
      val q = mix.next()
      val idx = i
      val req = requests.incrementAndGet().toLong
      pool.execute(() => {
        val start = System.nanoTime()
        wait(idx) = (start - due) / 1e6
        val ok = serve(q, req)
        if (ok) lat(idx) = (System.nanoTime() - due) / 1e6
        else failed.incrementAndGet()
        completed.incrementAndGet()
        ()
      })
      i += 1
      if (abortOnBacklog && i - completed.get > backlogLimit) overloaded = true
    }
    val pendingAtEnd = i - completed.get
    val drainBy = System.nanoTime() + 5000000000L
    while (completed.get < i && System.nanoTime() < drainBy) Thread.sleep(1)
    if (completed.get < i) overloaded = true
    // reading `completed` orders every finished worker's writes before ours
    val done = completed.get
    PhaseResult(rate, i, lat.take(i).toSeq, wait.take(i).toSeq, lag.take(i).toSeq,
      failed.get + (i - done), overloaded, pendingAtEnd)
  }

  /** Closed loop: every worker sends its next query as soon as its last
    * one returns, for `seconds`. Returns completed queries per second and
    * the number of failed or differing responses. */
  def saturate(seconds: Double, mix: QueryMix): (Double, Int, Int) = {
    val completed = new AtomicInteger(0)
    val failed = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val futures = (0 until workers).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = while (System.nanoTime() < deadline) {
          val q = mix.synchronized(mix.next())
          if (!serve(q, requests.incrementAndGet().toLong)) failed.incrementAndGet()
          completed.incrementAndGet()
        }
      })
    }
    futures.foreach(_.get())
    val elapsed = (System.nanoTime() - t0) / 1e9
    (completed.get / elapsed, completed.get, failed.get)
  }

  /** Serves one query; false when it threw or its response differs from
    * the first response seen for the same query. */
  private def serve(q: Query, req: Long): Boolean =
    try {
      val hits = ctx.span("LocalSearcher.search", "query", req) {
        LocalSearcher.search(li, q.text, Common.optsFor(q))
      }
      val prev = firstSeen.putIfAbsent(q, hits)
      prev == null || prev == hits
    } catch { case NonFatal(_) => false }

  /** The first response of every distinct query served so far. */
  def responses: Map[Query, Seq[LocalSearcher.Hit]] = {
    import scala.jdk.CollectionConverters._
    firstSeen.asScala.toMap
  }

  def close(): Unit = pool.shutdownNow()
}
