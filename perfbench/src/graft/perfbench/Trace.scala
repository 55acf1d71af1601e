package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder and the two listeners of the traced run.
  * Nothing here is registered or recorded unless `enabled` is set, so
  * the untraced run pays one volatile read per span.
  *
  * Times are System.nanoTime; listener event times (epoch ms) are moved
  * onto the same clock through the offset captured at start-up.
  */
object Trace {
  @volatile var enabled = false
  private val nanoAtEpoch0 = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + nanoAtEpoch0

  final case class Span(name: String, start: Long, end: Long, parent: String, op: Int)
  final case class Count(name: String, op: Int, value: Double)

  private val spans = ArrayBuffer[Span]()
  private val counts = ArrayBuffer[Count]()
  private val stack = new ThreadLocal[List[String]] { override def initialValue() = Nil }
  private val curOp = new ThreadLocal[Int] { override def initialValue() = -1 }

  /** Sets a local property on the calling thread's Spark jobs; the
    * span name rides on it so the job listener can attribute jobs. */
  @volatile var setProp: (String, String) => Unit = (_, _) => ()

  def setOp(op: Int): Unit = curOp.set(op)

  /** Time `body` as span `name`, child of the innermost open span on
    * this thread. The span is recorded even when `body` throws. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.orNull
      stack.set(name :: stack.get)
      setProp(SpanProp, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        setProp(SpanProp, parent)
        spans.synchronized(spans += Span(name, t0, t1, parent, curOp.get))
      }
    }

  def count(name: String, value: Double): Unit =
    if (enabled) counts.synchronized(counts += Count(name, curOp.get, value))

  def spansSnapshot: Seq[Span] = spans.synchronized(spans.toList)
  def countsSnapshot: Seq[Count] = counts.synchronized(counts.toList)

  /** Per-job record: the op and span that launched it (from the local
    * properties the client thread set) and the task metrics of its
    * stages, summed. */
  final class JobRec(val id: Int, val start: Long, val op: Int, val span: String) {
    @volatile var end = -1L
    var stages = 0; var tasks = 0; var taskNs = 0L
    var inputBytes = 0L; var inputRecords = 0L; var shuffleBytes = 0L
    var spillBytes = 0L; var outputBytes = 0L
  }

  final case class Trigger(t: Long, triggerMs: Long, addBatchMs: Long,
      commitMs: Long, rows: Long)

  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"

  class Jobs extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpProp))).map(_.toInt).getOrElse(-1)
      val sp = p.flatMap(x => Option(x.getProperty(SpanProp))).orNull
      val r = new JobRec(e.jobId, fromEpochMs(e.time), op, sp)
      jobs.put(e.jobId, r)
      e.stageIds.foreach(id => stageJob.put(id, r))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = fromEpochMs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { r =>
        val m = e.taskMetrics
        r.synchronized {
          r.tasks += 1
          if (m != null) {
            r.taskNs += m.executorRunTime * 1000000L
            r.inputBytes += m.inputMetrics.bytesRead
            r.inputRecords += m.inputMetrics.recordsRead
            r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
            r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            r.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  class Streams extends StreamingQueryListener {
    val triggers = ArrayBuffer[Trigger]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val t = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      triggers.synchronized(triggers += Trigger(t, d("triggerExecution"),
        d("addBatch"), d("walCommit") + d("commitOffsets"), p.numInputRows))
    }
  }
}
