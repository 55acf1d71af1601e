package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
import org.apache.spark.sql.types._

import graft.functions.TextHash
import graft.sources.VectorGen

/** Seeded input generator. Every value is a pure function of
  * (seed, stream, id), so the same seed gives the same inputs and a
  * request or ingest slice can be re-derived on the driver without
  * reading anything back.
  *
  *  - vectors: VectorGen's splitmix64 formula, with the seed and stream
  *    folded into the row key: key = (seed mod 2^23) << 40 | stream << 24 | id;
  *  - documents: Zipf-distributed words, id-aligned with the vectors
  *    (doc_id == vec_id, same seed and stream);
  *  - requests: corpus vectors plus a small seeded jitter;
  *  - ingest slices: a fresh stream per slice, ids disjoint across
  *    slices except the query ids 0..9 every engine ingest path serves.
  */
object Gen {
  val Vocab = 20000
  val ZipfS = 1.07
  val MinWords = 24
  val Jitter = 0.05

  private def key(seed: Long, stream: Long, id: Long): Long =
    ((seed & 0x7FFFFFL) << 40) | (stream << 24) | id

  def u01(x: Long): Double = (TextHash.mix64(x) >>> 11) / 9007199254740992.0

  def vec(seed: Long, stream: Long, id: Long, dim: Int): Array[Float] = {
    val k = key(seed, stream, id)
    Array.tabulate(dim)(i => VectorGen.component(k, dim, i))
  }

  /** Cumulative Zipf weights over ranks 1..Vocab. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(r => 1.0 / math.pow(r + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def zipf(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(Vocab - 1, if (i >= 0) i else -i - 1)
  }

  def docWords(seed: Long, stream: Long, id: Long): Array[String] = {
    val k = key(seed, stream, id) ^ 0x5DEECE66DL
    val len = MinWords + (TextHash.mix64(k) >>> 59).toInt
    Array.tabulate(len)(j => "w" + zipf(u01(k * 131 + j + 1)))
  }

  def docText(seed: Long, stream: Long, id: Long): String =
    docWords(seed, stream, id).mkString(" ")

  /** A request vector: corpus vector `id` plus a jitter seeded by the
    * request number, in doubles (the engine's query-side type). */
  def jittered(seed: Long, stream: Long, id: Long, dim: Int, req: Long): Array[Double] = {
    val base = vec(seed, stream, id, dim)
    val k = key(seed, 4095, req) * 31 + id
    Array.tabulate(dim)(i => base(i) + Jitter * (2 * u01(k * 1024 + i) - 1))
  }

  /** `k` distinct ids drawn from [0, n) for request `req`. */
  def requestIds(seed: Long, req: Long, n: Long, k: Int): Array[Long] = {
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    var j = 0L
    while (out.size < k) {
      out += (TextHash.mix64(key(seed, 4094, req) * 977 + j) >>> 1) % n
      j += 1
    }
    out.toArray
  }

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Ingest slice ids: the 10 query ids, then a range no other slice uses. */
  def sliceIds(slice: Long, n: Long): Seq[Long] =
    (0L until 10L) ++ ((1L << 22) + slice * n until (1L << 22) + slice * n + n - 10)

  /** Write `embeddings.parquet` (and `documents.parquet` when `docs`)
    * under `dir` for the given ids, generated on the executors. */
  def write(s: SparkSession, dir: String, seed: Long, stream: Long,
      ids: Seq[Long], dim: Int, docs: Boolean, parts: Int): Unit = {
    val rdd = s.sparkContext.parallelize(ids, parts)
    val emb = rdd.map(id => Row(id, vec(seed, stream, id, dim), (id % 10).toInt))
    s.createDataFrame(emb, EmbSchema).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    if (docs) {
      val d = rdd.map(id => Row(id, docText(seed, stream, id)))
      s.createDataFrame(d, DocSchema).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    }
  }

  /** Row count and order-independent content hash (xor of row hashes)
    * of a written table, in one pass. */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val h = df.select(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).head()
    (h.getLong(0), f"${if (h.isNullAt(1)) 0L else h.getLong(1)}%016x")
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(g => dirBytes(g.getPath)).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()
  }
}
