package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, size, sum}
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{BinaryQuant, Bm25, IvfIndex, Knn, Mmr, ServeE2e}
import graft.streaming.StreamingQueries
import Loop.{check, checkRanked, Op, Work}

/** A workload as the run sees it. `setup(rep)` is timed and repeated;
  * each repetition opens the input under a distinct path spelling
  * (`dir/.`, `dir/./.`, ...) so the engine's per-path build-once memos
  * build again instead of returning the first build. */
trait Workload {
  def clients: Int
  /** Op kinds the workload cycles through, in op-id order. */
  def kinds: Int
  def warmup: Int
  /** Ops each client runs in the measured phase even if its time is up. */
  def minMeasured: Int
  def setupReps: Int
  def generate(): Json.Raw
  def setup(rep: Int): Unit
  def op(id: Int): Op
  /** Recomputes one sampled warm-up op through the engine's independent
    * path; returns the differences found. */
  def verify(warm: Seq[Loop.Rec]): Seq[String]
  def verifyDescription: String
  def sizes(): Json.Raw
  /** Streaming writes the traced run adds after its traced phase. */
  def writes: Option[Writes] = None

  protected def spelled(dir: String, rep: Int): String = dir + "/." * rep

  /** The op of a successful warm-up record picked by `pick`. */
  protected def sampled[T <: Op](warm: Seq[Loop.Rec])(pick: Loop.Rec => Boolean): Option[T] =
    warm.find(r => r.ok && pick(r)).map(_.op.asInstanceOf[T])

  protected def describe(s: SparkSession, dir: String, name: String, dim: Int): Json.Raw = {
    val (rows, hash) = Gen.rowsAndHash(s.read.parquet(s"$dir/$name.parquet"))
    Json.obj("rows" -> rows, "dims" -> dim,
      "bytes" -> Gen.dirBytes(s"$dir/$name.parquet"), "hash" -> hash)
  }

}

/** Hybrid request batches over at-rest layouts, two closed-loop clients;
  * in the traced run, the streaming writes beside them. */
final class Serve(s: SparkSession, work: String, seed: Long, cpus: Int) extends Workload {
  private val dir = s"$work/input"
  val N = 5000L
  val Dim = 128
  val Q = Bm25.NQueriesB // queries per request batch
  val clients = 2
  val kinds = 1
  // request latency keeps falling over the first batches of a fresh JVM
  val warmup = 4
  val minMeasured = 3
  val setupReps = 3
  override val writes = Some(new Writes(s, work, seed, cpus))

  private var idx: ServeE2e.OpenIndexes = _
  private var centroids: Array[Array[Double]] = _
  private var layoutDirs: Seq[String] = Nil

  def generate(): Json.Raw = {
    Gen.write(s, dir, seed, 0, 0L until N, Dim, docs = true, cpus)
    Json.obj("embeddings" -> describe(s, dir, "embeddings", Dim),
      "documents" -> describe(s, dir, "documents", 0))
  }

  def setup(rep: Int): Unit = {
    val d = spelled(dir, rep)
    ServeE2e.tunePointRead(s)
    val sparse = Trace.span("Bm25.layout_build")(Bm25.layoutFor(s, d))
    val (dense, c) = Trace.span("ServeE2e.dense_layout_build")(ServeE2e.denseLayoutFor(s, d))
    val byId = Trace.span("ServeE2e.emb_by_id_build")(ServeE2e.embByIdFor(s, d))
    idx = Trace.span("ServeE2e.open")(ServeE2e.openIndexes(s, sparse, dense, byId))
    centroids = c
    layoutDirs = Seq(sparse, dense, byId)
  }

  private val QvSchema = StructType(Seq(StructField("qid", LongType),
    StructField("qv", ArrayType(DoubleType))))

  /** Request `req`: ids, their jittered vectors and their docs' terms. */
  private def request(ids: Array[Long], req: Long) = {
    val vecs = ids.map(id => Gen.jittered(seed, 0, id, Dim, req))
    val terms = ids.toSeq.flatMap(id =>
      Gen.docWords(seed, 0, id).distinct.sorted.map(w => (id, w)))
    val qv = s.createDataFrame(java.util.Arrays.asList(
      ids.zip(vecs).map { case (id, v) => Row(id, v.toSeq) }: _*), QvSchema)
    (vecs, terms, qv)
  }

  private def route(ids: Array[Long], vecs: Array[Array[Double]]): Seq[(Long, Int)] =
    ids.zip(vecs).toSeq.flatMap { case (id, v) =>
      IvfIndex.nearestN(centroids, v, BinaryQuant.IvfNprobe).map(c => (id, c))
    }

  /** Request `id`. Request 0, the first warm-up op, asks for ids 0..9:
    * the query ids the engine's `bm25TopN` reference serves. */
  final class Request(id: Int) extends Op {
    val kind = "request"
    val ids = if (id == 0) (0L until Q).toArray else Gen.requestIds(seed, id, N, Q)
    val (vecs, terms, qv) = request(ids, id)
    var probes: Seq[(Long, Int)] = Nil
    var fused: Array[Row] = Array.empty
    var out: Array[Row] = Array.empty
    def run(): Work = {
      probes = Trace.span("ServeE2e.route")(route(ids, vecs))
      fused = Trace.span("ServeE2e.retrieve")(
        ServeE2e.fusedListOnline(s, idx, probes, qv, terms).collect())
      out = Trace.span("ServeE2e.rerank")(
        ServeE2e.mmrOverFetched(s, idx.embById, fused).collect())
      checkRanked("fused", ids, fused.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))),
        Bm25.K)
      checkRanked("mmr", ids, out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))),
        Mmr.SelectK)
      Work(Q, N)
    }
    override def split(): Unit = {
      import s.implicits._
      Trace.count("BinaryQuant.cells_read_share",
        probes.map(_._2).distinct.size.toDouble / BinaryQuant.IvfNlist)
      val words = terms.map(_._2).distinct
      Trace.span("Bm25.score")(Bm25.scoreAndRank(idx.tf.filter(col("word").isin(words: _*)),
        idx.dl, idx.dfT, idx.tot, terms.toDF("qid", "word"), Bm25.TopN).collect())
      Trace.span("BinaryQuant.coded")(BinaryQuant.ivfBinaryCodedPlan(idx.coded, probes, qv,
        Bm25.TopN, BinaryQuant.RerankR).collect())
      val pool = Trace.span("ServeE2e.fetch")(
        ServeE2e.fetchFusedPool(s, idx.embById, fused).collect())
      Trace.count("ServeE2e.ids_requested", fused.map(_.getLong(1)).distinct.length)
      Trace.span("Mmr.select")(pool.groupBy(_.getLong(0)).foreach { case (_, rs) =>
        Mmr.select(rs.sortBy(_.getInt(3)).map(r =>
          (r.getLong(1), r.getDouble(2), r.getSeq[Double](4).toArray)),
          Mmr.SelectK, Mmr.CombinedLambda)
      })
    }
  }

  def op(id: Int): Op = new Request(id)

  val verifyDescription = "warm-up request 0 (ids 0..9): fused list == Bm25.fuseRrf(" +
    "BinaryQuant.ivfBinaryOn over the corpus, Bm25.bm25TopN over the documents); " +
    "MMR output == Mmr.select over the fused pool with generator-side vectors"

  def verify(warm: Seq[Loop.Rec]): Seq[String] = sampled[Request](warm)(_.id == 0) match {
    case None => Seq("warm-up request 0 failed")
    case Some(req) =>
      import s.implicits._
      val fused = req.fused
      val bm = Bm25.bm25TopN(Tables.load(s, dir, "documents"), Bm25.TopN)
        .select(col("qid"), col("doc_id").as("id"), col("rank").as("bm25_rank"))
      val queries = req.ids.zip(req.vecs).toSeq.toDF("vec_id", "embedding")
      val vec = BinaryQuant.ivfBinaryOn(Tables.load(s, dir, "embeddings"), queries, centroids,
          Bm25.TopN, BinaryQuant.RerankR, BinaryQuant.IvfNprobe)
        .select(col("qid"), col("vec_id").as("id"), col("rank").as("vec_rank"))
      val ref = Bm25.fuseRrf(vec, bm).collect()
      val problems = Seq.newBuilder[String]
      val got = fused.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val want = ref.map(r => (r.getLong(0), r.getLong(1), r.getInt(5))).toSet
      if (got != want) problems += s"fused list differs from the reference in ${(got diff want).size} rows"
      val rrfGot = fused.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      ref.foreach { r =>
        rrfGot.get((r.getLong(0), r.getLong(1))).foreach { g =>
          if (math.abs(g - r.getDouble(4)) > 1e-12) problems += s"rrf differs at ${r.getLong(0)}/${r.getLong(1)}"
        }
      }
      fused.groupBy(_.getLong(0)).foreach { case (q, rs) =>
        val cands = rs.sortBy(_.getInt(3)).map(r =>
          (r.getLong(1), r.getDouble(2), Gen.vec(seed, 0, r.getLong(1), Dim).map(_.toDouble)))
        val want = Mmr.select(cands, Mmr.SelectK, Mmr.CombinedLambda)
        val gotQ = req.out.filter(_.getLong(0) == q).sortBy(_.getInt(2))
          .map(r => (r.getLong(1), r.getDouble(3)))
        if (gotQ.map(_._1).toSeq != want.map(_._1).toSeq ||
            gotQ.zip(want).exists { case (g, w) => math.abs(g._2 - w._2) > 1e-9 })
          problems += s"MMR order differs for qid $q"
      }
      problems.result()
  }

  def sizes(): Json.Raw = {
    val in = Seq("documents", "embeddings").map(t => Gen.dirBytes(s"$dir/$t.parquet")).sum
    val index = layoutDirs.map(Gen.dirBytes).sum
    Json.obj("input_bytes" -> in, "index_bytes" -> index, "corpus_rows" -> N, "dims" -> Dim,
      "queries_per_op" -> Q)
  }
}

/** Exact k-NN analytics batches over a 512-D corpus, one client. */
final class Scan(s: SparkSession, dir: String, seed: Long, cpus: Int) extends Workload {
  val N = 50000L
  val Dim = 512
  val Q = 128
  val K = 10
  val clients = 1
  val kinds = 4
  // one full batch of each variant, so every inner loop is warm at the
  // measured batch size
  val warmup = 4
  val minMeasured = kinds
  val setupReps = 3
  val Variants = Seq("cosine", "l2", "ip", "filtered")

  private var corpus: DataFrame = _

  def generate(): Json.Raw = {
    Gen.write(s, dir, seed, 0, 0L until N, Dim, docs = false, cpus)
    Json.obj("embeddings" -> describe(s, dir, "embeddings", Dim))
  }

  def setup(rep: Int): Unit = {
    corpus = Tables.load(s, spelled(dir, rep), "embeddings")
    corpus.schema
  }

  private def metric(v: String): Knn.Metric = v match {
    case "l2" => Knn.L2
    case "ip" => Knn.Ip
    case _ => Knn.Cosine
  }
  private def source(v: String): DataFrame =
    if (v == "filtered") corpus.filter(col("label") < 5) else corpus

  private def queries(req: Long, q: Int): (Array[Long], DataFrame) = {
    import s.implicits._
    val ids = Gen.requestIds(seed, req, N, q)
    (ids, ids.toSeq.map(id => (id, Gen.jittered(seed, 0, id, Dim, req).toSeq))
      .toDF("vec_id", "embedding"))
  }

  final class Batch(id: Int) extends Op {
    val kind = Variants(id % Variants.size)
    val (ids, qdf) = queries(id, Q)
    var out: Array[Row] = Array.empty
    def run(): Work = {
      out = Trace.span(s"Knn.topk.$kind")(Knn.topK(source(kind), qdf, K, metric(kind)).collect())
      checkRanked(kind, ids, out.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))), K)
      if (kind == "filtered")
        check(out.forall(_.getLong(1) % 10 < 5), "filtered: a row with label >= 5")
      Work(Q, N)
    }
    override def split(): Unit =
      Trace.span("Tables.decode")(source(kind).select(sum(size(col("embedding")))).collect())
  }

  def op(id: Int): Op = new Batch(id)

  // the sampled variant rotates with the seed
  private val checked = Variants(Math.floorMod(seed, Variants.size.toLong).toInt)
  val verifyDescription = s"the $checked warm-up batch: Knn.topK == Knn.topKMapPartitions"

  def verify(warm: Seq[Loop.Rec]): Seq[String] = sampled[Batch](warm)(_.kind == checked) match {
    case None => Seq(s"the $checked warm-up batch failed")
    case Some(b) =>
      val v = checked
      val ref = Knn.topKMapPartitions(source(v), b.qdf, K, metric(v)).collect()
      val ka = b.out.map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
      val kb = ref.map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
      if (ka.keySet != kb.keySet) Seq(s"$v: (qid, rank) sets differ")
      else ka.collect { case (k, (id, sc)) if kb(k)._1 != id ||
          math.abs(kb(k)._2 - sc) > 1e-9 * math.max(1.0, math.abs(sc)) =>
        s"$v: qid ${k._1} rank ${k._2} differs"
      }.take(3).toSeq
  }

  def sizes(): Json.Raw = {
    val in = Gen.dirBytes(s"$dir/embeddings.parquet")
    Json.obj("input_bytes" -> in, "index_bytes" -> in, "corpus_rows" -> N, "dims" -> Dim,
      "queries_per_op" -> Q)
  }
}

/** The streaming writes beside `serve`'s reads: one client alternating
  * `streamBm25Ingest` and `streamNswIncremental`, each over a fresh
  * slice, so no memo applies. `serve`'s traced run runs them after its
  * traced phase, so the streaming layer is measured without a workload
  * of its own. */
final class Writes(s: SparkSession, work: String, seed: Long, cpus: Int) {
  val N = 2000L // rows per slice (documents and vectors, id-aligned)
  val Dim = 128
  /** Ops per traced run: each function once. */
  val ops = 2
  private val K = Bm25.K
  private var made = 0

  private def fsWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.toArray
      .map(_.asInstanceOf[org.apache.hadoop.fs.FileSystem.Statistics].getBytesWritten).sum

  /** Op `id` ingests slice `id`, drawn from its own stream 1 + id with
    * ids no other slice uses. The first op is a postings ingest. */
  final class Slice(id: Int) extends Op {
    val bm25 = made % 2 == 0
    made += 1
    val d = s"$work/slices/$id"
    Gen.write(s, d, seed, 1 + id, Gen.sliceIds(id, N), Dim, docs = true, cpus)
    val inBytes = Seq("documents", "embeddings").map(t => Gen.dirBytes(s"$d/$t.parquet")).sum
    val kind = if (bm25) "bm25_ingest" else "nsw_incremental"
    var out: Array[Row] = Array.empty
    def run(): Work = {
      val w0 = fsWritten()
      out = Trace.span(s"StreamingQueries.$kind")(
        if (bm25) StreamingQueries.streamBm25Ingest(s, d).collect()
        else StreamingQueries.streamNswIncremental(s, d).collect())
      val written = fsWritten() - w0
      val rankCol = out.head.fieldIndex("rank")
      checkRanked(kind, 0L until 10L,
        out.map(r => (r.getLong(0), r.getLong(1), r.getInt(rankCol))), K)
      Work(10, N, inBytes, written)
    }
  }

  def op(id: Int): Op = new Slice(id)

  val verifyDescription = "the first bm25_ingest write: StreamingQueries.streamBm25Ingest == " +
    "Bm25.bm25TopN over its slice's documents"

  def verify(recs: Seq[Loop.Rec]): Seq[String] =
    recs.find(r => r.ok && r.kind == "bm25_ingest").map(_.op.asInstanceOf[Slice]) match {
      case None => Seq("no bm25_ingest write succeeded")
      case Some(op) =>
        val got = op.out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
        val want = Bm25.bm25TopN(Tables.load(s, op.d, "documents"), K).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
        if (got == want) Nil
        else Seq(s"bm25 ingest differs from bm25TopN in ${(got diff want).size} rows")
    }
}
