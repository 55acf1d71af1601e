package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: generate the seeded inputs, set
  * the workload up (timed), warm up, measure closed-loop ops, check a
  * sampled warm-up op against the engine's independent path, and write
  * every raw record as JSON for `run.py` to reduce.
  *
  * Usage: Main --workload serve|scan --seed N --seconds S
  *             --trace 0|1 --work DIR --out FILE --cpus C
  *
  * With --trace 1 the measured time is split in two: an untraced half
  * and a traced half (listeners registered, spans recorded), so the
  * tracing overhead is measured inside one JVM. After the traced half,
  * with no op in flight, the first `SplitPerKind` traced ops of each
  * kind have each layer stage materialized alone, and then the
  * workload's streaming writes, if it has any, run traced on one client.
  */
object Main {
  val SplitPerKind = 3

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) Double.NaN
    else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val name = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val traced = a("trace") == "1"
    val work = a("work"); val cpus = a("cpus").toInt
    val spark = session(cpus, work)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    Trace.setProp = (k, v) => sc.setLocalProperty(k, v)

    val w: Workload = name match {
      case "serve" => new Serve(spark, work, seed, cpus)
      case "scan" => new Scan(spark, s"$work/input", seed, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val writes = if (traced) w.writes else None

    val g0 = System.nanoTime()
    val inputs = w.generate()
    val genS = (System.nanoTime() - g0) / 1e9

    val jobs = new Trace.Jobs
    val streams = new Trace.Streams
    def tracing(on: Boolean): Unit = {
      Trace.enabled = on
      if (on) { sc.addSparkListener(jobs); spark.streams.addListener(streams) }
      else { sc.removeSparkListener(jobs); spark.streams.removeListener(streams) }
    }

    if (traced) tracing(true)
    val setupReps = (0 until w.setupReps).map { r =>
      Trace.setOp(-100 - r)
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    if (traced) tracing(false)
    Trace.setOp(-1)

    val seq = new AtomicInteger(0)
    val onOp = (id: Int) => { sc.setLocalProperty(Trace.OpProp, id.toString); Trace.setOp(id) }
    def phase(label: String, minOps: Int, maxOps: Int, secs: Double) = {
      val t0 = System.nanoTime()
      val recs = Loop.run(label, w.clients, minOps, maxOps, secs, seq, w.op, onOp)
      (recs, t0, System.nanoTime())
    }
    val phases = Seq.newBuilder[(String, Seq[Loop.Rec], Long, Long)]
    val (wr, w0, w1) = phase("warmup", w.warmup, w.warmup, 1e9)
    phases += (("warmup", wr, w0, w1))

    var measureCpuNs = -1L
    if (!traced) {
      val c0 = processCpuNs()
      val (r, t0, t1) = phase("measure", w.minMeasured, Int.MaxValue, seconds)
      measureCpuNs = processCpuNs() - c0
      phases += (("measure", r, t0, t1))
    } else {
      // each half runs at least one op of every kind, so both cover the same mix
      val (r, t0, t1) = phase("untraced", w.kinds, Int.MaxValue, seconds / 2)
      phases += (("untraced", r, t0, t1))
      tracing(true)
      val (r2, t2, t3) = phase("traced", w.kinds, Int.MaxValue, seconds / 2)
      phases += (("traced", r2, t2, t3))
      // the split runs on this thread once both clients have stopped, so
      // no split overlaps a timed op
      r2.filter(_.ok).groupBy(_.kind).values.flatMap(_.take(SplitPerKind)).toSeq
        .sortBy(_.id).foreach { r => onOp(r.id); r.op.split() }
      writes.foreach { wt =>
        val t4 = System.nanoTime()
        val r3 = Loop.run("writes", 1, wt.ops, wt.ops, 0, seq, wt.op, onOp)
        phases += (("writes", r3, t4, System.nanoTime()))
      }
      tracing(false)
    }
    val rssMb = vmHwmMb()

    // the sampled correctness check recomputes one warm-up op once every
    // timed op has run: its reference paths would otherwise disturb the
    // JIT state the measured ops start from
    val v0 = System.nanoTime()
    val written = phases.result().filter(_._1 == "writes").flatMap(_._2)
    val problems =
      try w.verify(wr) ++ writes.toSeq.flatMap(_.verify(written))
      catch { case scala.util.control.NonFatal(e) => Seq("verify threw " + Loop.describe(e)) }
    val verifyS = (System.nanoTime() - v0) / 1e9

    val out = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cpus" -> cpus, "clients" -> w.clients,
      "session_s" -> sessionS, "gen_s" -> genS, "setup_reps_s" -> setupReps,
      "verify_s" -> verifyS,
      "inputs" -> inputs, "sizes" -> w.sizes(),
      "rss_peak_mb" -> rssMb, "measure_cpu_ns" -> measureCpuNs,
      "sample_check" -> Json.obj("ok" -> problems.isEmpty, "problems" -> problems,
        "checked" -> (w.verifyDescription +: writes.toSeq.map(_.verifyDescription))
          .mkString("; ")),
      "phases" -> phases.result().map { case (p, recs, t0, t1) =>
        Json.obj("name" -> p, "start" -> t0, "end" -> t1, "ops" -> recs.map(r => Json.obj(
          "id" -> r.id, "client" -> r.client, "kind" -> r.kind, "start" -> r.start,
          "latency_ns" -> r.latencyNs, "excluded_ns" -> r.excludedNs, "error" -> r.error,
          "queries" -> r.work.queries,
          "rows" -> r.work.rows, "in_bytes" -> r.work.inBytes, "out_bytes" -> r.work.outBytes)))
      },
      "spans" -> Trace.spansSnapshot.map(s => Json.obj("name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "op" -> s.op)),
      "counts" -> Trace.countsSnapshot.map(c => Json.obj("name" -> c.name, "op" -> c.op,
        "value" -> c.value)),
      "jobs" -> jobs.jobs.values().asScala.toSeq.sortBy(_.id).map(j => j.synchronized(Json.obj(
        "id" -> j.id, "start" -> j.start, "end" -> j.end, "op" -> j.op, "span" -> j.span,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_ns" -> j.taskNs,
        "input_bytes" -> j.inputBytes, "input_records" -> j.inputRecords,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
        "output_bytes" -> j.outputBytes))),
      "triggers" -> streams.triggers.synchronized(streams.triggers.toList).map(t => Json.obj(
        "t" -> t.t, "trigger_ms" -> t.triggerMs, "add_batch_ms" -> t.addBatchMs,
        "commit_ms" -> t.commitMs, "rows" -> t.rows)))
    val f = new java.io.PrintWriter(a("out"), "UTF-8")
    try f.write(out.s) finally f.close()
    spark.stop()
  }
}

/** Minimal JSON writer for the raw record. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => q(k) + ":" + apply(v) }
    .mkString("{", ",", "}"))
  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case Raw(s) => s
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => q(other.toString)
  }
}
