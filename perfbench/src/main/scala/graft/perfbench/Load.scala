package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Closed-loop load: each client thread sends its next request only after
  * the previous answer arrived, for a fixed wall time. */
object Load {

  /** A sampled answer kept for the post-run check. */
  final case class Kept(op: Ops.Op, answer: Vector[String])

  /** One outermost span: request id, route, start and end (ns). */
  final case class Span(id: Long, route: String, start: Long, end: Long)

  final class ClientResult {
    val latNs = new ArrayBuffer[Long](1 << 14)
    /** Request start, ns after the phase start, beside [[latNs]]. */
    val startNs = new ArrayBuffer[Long](1 << 14)
    var attempted, failed = 0L
    /** When the client's last request ended, ns after the phase start. */
    var endNs = 0L
    val kept = new ArrayBuffer[Kept]()
    val spans = new ArrayBuffer[Span]()
    var firstError: String = null
  }

  final case class Result(clients: Seq[ClientResult]) {
    def attempted: Long = clients.map(_.attempted).sum
    def failed: Long = clients.map(_.failed).sum
    def latMs: Array[Double] =
      clients.flatMap(_.latNs).map(_ / 1e6).toArray.sorted
    /** Sum of the clients' own rates, each over the time up to the end of
      * its last request, so a request in flight at the deadline neither
      * counts partly nor stretches the window. */
    def qps: Double = clients.map(c =>
      if (c.endNs > 0) (c.attempted - c.failed) / (c.endNs / 1e9) else 0.0).sum
    def kept: Seq[Kept] = clients.flatMap(_.kept)
    def spans: Seq[Span] = clients.flatMap(_.spans)
  }

  /** Nearest-rank percentile of an ascending array. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(p * sorted.length).toInt - 1)))

  def median(xs: Seq[Double]): Double = pct(xs.sorted.toArray, 0.5)

  /** Runs `streams.size` client threads for `seconds`. Client `c` walks
    * `streams(c)` from `offsets(c)`, wrapping around. Every `keepEvery`-th
    * answer (up to `keepMax` per client) is kept for the answer check;
    * `trace` records one span per request. Clients run past `seconds`
    * while `busy` holds. */
  def run(streams: Seq[Array[Ops.Op]], offsets: Seq[Int],
      mkClient: () => Ops.Client, seconds: Double, keepEvery: Int = 0,
      keepMax: Int = 0, trace: Boolean = false,
      busy: () => Boolean = () => false): Result = {
    val results = streams.map(_ => new ClientResult)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = streams.indices.map { c =>
      val t = new Thread(() => {
        val ops = streams(c)
        val r = results(c)
        val client = mkClient()
        try {
          var i = offsets(c)
          while (System.nanoTime() < deadline || busy()) {
            val op = ops(i % ops.length)
            val keep = keepEvery > 0 && r.kept.size < keepMax &&
              i % keepEvery == 0
            val t0 = System.nanoTime()
            val reply =
              try client.exec(op, keep)
              catch {
                case e: Exception =>
                  if (r.firstError == null) r.firstError = s"$op: $e"
                  null
              }
            val t1 = System.nanoTime()
            r.latNs += t1 - t0
            r.startNs += t0 - start
            r.attempted += 1
            if (reply == null || !reply.ok) {
              r.failed += 1
              if (reply != null && r.firstError == null)
                r.firstError = s"$op: unexpected answer ($reply)"
            } else if (keep) r.kept += Kept(op, reply.answer)
            if (trace) r.spans += Span(c.toLong << 32 | i, op.route, t0, t1)
            r.endNs = t1 - start
            i += 1
          }
        } finally client.close()
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    Result(results)
  }
}
