package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

/** Self-test of the closed loop's failure accounting (no Spark needed):
  * an op that throws, and an op that fails its output check, are each
  * recorded as failed with no latency; the others are timed.
  * Run through `python3 perfbench/run.py --selftest`. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    def op(id: Int): Loop.Op = new Loop.Op {
      val kind = "t"
      def run(): Loop.Work = {
        Thread.sleep(2)
        if (id == 1) throw new IllegalStateException("boom")
        Loop.check(id != 3, "wrong shape")
        Loop.Work(1, 1)
      }
    }
    val recs = Loop.run("t", clients = 1, minOps = 0, maxOps = 5,
      seconds = 60,
      new AtomicInteger(0), op, _ => ())
    val failed = recs.filter(!_.ok)
    assert(recs.size == 5, s"expected 5 ops, got ${recs.size}")
    assert(failed.map(_.id) == Seq(1, 3), s"failed ops ${failed.map(_.id)}")
    assert(failed.forall(r => r.latencyNs == -1 && r.work == Loop.Work(0, 0)),
      "a failed op carries a latency or work")
    assert(failed.head.error.contains("boom") && failed(1).error.contains("wrong shape"))
    assert(recs.filter(_.ok).forall(_.latencyNs >= 2000000L), "a successful op was not timed")
    println("[selftest] loop failure accounting: ok")
  }
}
