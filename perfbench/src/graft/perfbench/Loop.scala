package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

/** Closed loop: each client issues its next op only after its
  * previous one completed. Building an op (request generation, ingest
  * slice writes) happens before the clock starts. An op that throws or
  * fails its output check is recorded as failed with no latency, so its
  * time can never enter a latency or throughput figure.
  */
object Loop {
  /** Work an op completed: queries answered, corpus or slice rows they
    * covered, and for ingest the bytes it was given and wrote. */
  final case class Work(queries: Long, rows: Long, inBytes: Long = 0L, outBytes: Long = 0L)

  trait Op {
    def kind: String
    def run(): Work
    /** Traced run only, after the traced phase: each layer stage of this
      * op materialized alone. */
    def split(): Unit = ()
  }

  final class CheckFailed(msg: String) extends RuntimeException(msg)
  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** Each query id answers exactly `k` rows with ranks 1..k and distinct ids. */
  def checkRanked(what: String, qids: Seq[Long], rows: Seq[(Long, Long, Int)], k: Int): Unit = {
    val by = rows.groupBy(_._1)
    check(by.keySet == qids.toSet, s"$what: qids ${by.keySet.toSeq.sorted.take(12)} " +
      s"!= requested ${qids.sorted.take(12)}")
    by.foreach { case (q, rs) =>
      check(rs.map(_._3).sorted == (1 to k), s"$what: qid $q ranks ${rs.map(_._3).sorted}")
      check(rs.map(_._2).distinct.size == k, s"$what: qid $q has duplicate ids")
    }
  }

  /** One op as recorded. `latencyNs` is -1 when the op failed.
    * `excludedNs` is the client's time on this op that no throughput
    * figure may count: building the op before its clock started, and
    * all of a failed op. `op` is null when the build threw. */
  final case class Rec(id: Int, client: Int, kind: String, phase: String,
      start: Long, latencyNs: Long, error: String, work: Work, excludedNs: Long, op: Op) {
    def ok: Boolean = latencyNs >= 0
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Runs `clients` closed loops until each has issued `maxOps` ops or
    * the phase's `seconds` are up, whichever comes first, but at least
    * `minOps` each. The op in flight at the deadline completes and
    * counts, so every run covers the same stretch of time. `onOp(id)`
    * runs on the client thread before op `id` is timed. */
  def run(phase: String, clients: Int, minOps: Int, maxOps: Int,
      seconds: Double, seq: AtomicInteger, make: Int => Op, onOp: Int => Unit): Seq[Rec] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var issued = 0
        while (issued < minOps || (issued < maxOps && System.nanoTime() < deadline)) {
          val id = seq.getAndIncrement()
          var kind = "unbuilt"
          var op: Op = null
          val b0 = System.nanoTime()
          var t0 = b0
          val (lat, err, work) =
            try {
              op = make(id)
              kind = op.kind
              onOp(id)
              t0 = System.nanoTime()
              val w = op.run()
              (System.nanoTime() - t0, null, w)
            } catch { case NonFatal(e) => (-1L, describe(e), Work(0, 0)) }
          val excluded = if (lat >= 0) t0 - b0 else System.nanoTime() - b0
          recs.add(Rec(id, c, kind, phase, t0, lat, err, work, excluded, op))
          issued += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    recs.asScala.toSeq.sortBy(_.id)
  }
}
