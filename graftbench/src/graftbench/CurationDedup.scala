package graftbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.SimilarityOps

/** `curation_dedup`: the dedup and similarity leaves of `SparkEntry.queries`
  * (MinHash-LSH near-duplicates, duplicate clusters, exact Jaccard pairs,
  * IVF nearest neighbours) over generated `documents` and `embeddings`,
  * repeated in passes. It is the only workload that runs `DedupOps` and
  * `SimilarityOps`; the others bypass them.
  */
object CurationDedup extends Workload {
  val queries = Seq("q_near_dup_lsh", "q_dup_clusters", "q_jaccard_pairs", "q_ann_ivf")
  val docs = 1000
  val vectors = 1000
  val dim = 64

  /** Corpus of the warm-up pass: code generation and the JIT depend on the
    * plans, not on the data size. */
  val warmDocs = 50

  private var dataDir: Path = _
  private var warmDir: Path = _
  private var oracleDir: Path = _
  private val schemas = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.types.StructType]

  def unitSample: String = "pass_s"

  def setup(ctx: Ctx, dir: Path): Unit = {
    dataDir = dir.resolve("data")
    warmDir = dir.resolve("warm")
    for ((d, (n, v)) <- Seq(dataDir -> (docs, vectors), warmDir -> (warmDocs, warmDocs))) {
      Gen.documents(ctx.spark, ctx.seed, n, d.resolve("documents.parquet").toString)
      Gen.embeddings(ctx.spark, ctx.seed, v, dim, d.resolve("embeddings.parquet").toString)
    }
  }

  private def run(ctx: Ctx, q: String, dir: Path = dataDir): Seq[Row] = ctx.span(s"ops.query.$q") {
    val df = SparkEntry.queries(q)(ctx.spark, dir.toString)
    val rows = df.collect().toSeq
    schemas(q) = df.schema
    if (ctx.tracer.on) ctx.tracer.annotate("exchanges", Plans.exchanges(df))
    rows
  }

  def warmup(ctx: Ctx): Unit = queries.foreach(run(ctx, _, warmDir))

  def measure(ctx: Ctx, dir: Path): Unit = {
    val first = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Row]]
    ctx.closedLoop { pass =>
      val t = queries.map { q =>
        val (rows, t) = ctx.op(run(ctx, q))
        ctx.sample(s"query_s.$q", t)
        first.get(q) match {
          case None    => first(q) = rows
          case Some(r) => ctx.check(s"curation.stable.$q",
            r.map(_.toString).sorted == rows.map(_.toString).sorted, s"pass $pass differs")
        }
        t
      }.sum
      ctx.sample("pass_s", t)
      true
    }
    // q_ann_ivf has no oracle: at least its result must repeat
    if (ctx.phase.samples("pass_s").size == 1)
      ctx.check("curation.stable.q_ann_ivf",
        first("q_ann_ivf").map(_.toString).sorted == run(ctx, "q_ann_ivf").map(_.toString).sorted,
        "a second run differs")
    // Spark results for the DuckDB oracle (checked after the JVM exits).
    if (oracleDir == null) {
      oracleDir = ctx.root.resolve("oracle")
      first.foreach { case (q, rows) =>
        ctx.spark.createDataFrame(rows.asJava, schemas(q)).coalesce(1).write
          .parquet(oracleDir.resolve(q).toString)
      }
      ctx.value("ivf_recall", ivfRecall(ctx))
    }
  }

  /** Recall@5 of `ivfTopK` (the q_ann_ivf parameters) against exact
    * neighbours computed here with the engine's quantized cosine. */
  private def ivfRecall(ctx: Ctx): Double = {
    val k = 5
    val e = ctx.spark.read.parquet(dataDir.resolve("embeddings.parquet").toString)
    val got = SimilarityOps.ivfTopK(e, e.where(col("vec_id") < 50), k = k, nlist = 16, nprobe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = e.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray
    }
    def dot(a: Array[Long], b: Array[Long]) = a.indices.map(i => a(i) * b(i)).sum
    val want = vecs.filter(_._1 < 50).flatMap { case (qid, qv) =>
      val qn = math.sqrt(dot(qv, qv).toDouble)
      vecs.filter(_._1 != qid).map { case (id, v) =>
        val sim = dot(qv, v) / (qn * math.sqrt(dot(v, v).toDouble))
        (BigDecimal(sim).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
      }.sortBy { case (s, id) => (-s, id) }.take(k).map { case (_, id) => (qid, id) }
    }
    want.count(got.contains).toDouble / want.length
  }

  override def extra(ctx: Ctx): Map[String, Any] = Map(
    "oracle" -> Map(
      "data_dir" -> dataDir.toString,
      "spark_dir" -> oracleDir.toString,
      "sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
}
