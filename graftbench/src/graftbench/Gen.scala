package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.wal.TranscriptWal

/** Input generators. Every input is a pure function of the run's seed. */
object Gen {

  /** Change events for `epochs` consecutive epochs of `perEpoch` events each
    * (column `epoch`), from the engine's own deterministic WAL generator:
    * ~5% of events hit one hot conversation, ~2% are verbatim duplicates,
    * ~5% are deletes. About 0.5% of events are redelivered verbatim four
    * epochs later; by then their commit_ts lies more than the one-hour
    * watermark delay below the table's high-water mark (at 2 s per lsn this
    * needs perEpoch > 600), so the watermark drops them, and were one kept it
    * would be a byte-identical duplicate: the expected state is the same
    * either way.
    */
  def cdcEvents(spark: SparkSession, seed: Long, epochs: Int, perEpoch: Int,
                nConvs: Int, lsnOffset: Long = 0L): DataFrame = {
    require(perEpoch > 600, "late redeliveries need epochs of more than 600 events")
    val base = TranscriptWal.synthetic(spark, epochs.toLong * perEpoch, nConvs,
        seed = seed, hotConvShare = 0.05, dupFraction = 0.02,
        deleteFraction = 0.05, lsnOffset = lsnOffset, turnsPerConv = 20)
      .withColumn("epoch", ((col("lsn") - lsnOffset) / perEpoch).cast("int"))
    val late = base
      .where(pmod(xxhash64(lit(seed), col("lsn"), lit("late")), lit(1000L)) < 5 &&
        col("epoch") < epochs - 4)
      .withColumn("epoch", col("epoch") + 4)
    base.unionByName(late)
  }

  /** Write `events` as exactly one parquet file per epoch, returned in epoch
    * order: all rows of an epoch share one shuffle partition, so one task
    * writes its directory.
    */
  def writeEpochFiles(events: DataFrame, dir: String): IndexedSeq[Path] = {
    val parts = s"$dir/parts"
    events.repartition(col("epoch")).write.partitionBy("epoch").parquet(parts)
    val out = Paths.get(dir, "epochs")
    Files.createDirectories(out)
    val files = Util.list(Paths.get(parts)).filter(_.getFileName.toString.startsWith("epoch="))
      .map { d =>
        val k = d.getFileName.toString.stripPrefix("epoch=").toInt
        val f = Util.list(d).filter(_.getFileName.toString.endsWith(".parquet"))
        require(f.size == 1, s"epoch $k was written as ${f.size} files")
        val target = out.resolve(f"epoch-$k%05d.parquet")
        Files.move(f.head, target)
        k -> target
      }.sortBy(_._1)
    require(files.map(_._1) == files.indices, "epochs are not contiguous")
    Util.deleteTree(Paths.get(parts))
    files.map(_._2).toIndexedSeq
  }

  private val vocab = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Vector("en", "en", "en", "de", "es", "fr", "zh")

  /** `documents` table (doc_id, text, lang, source, n_chars) in the shape
    * the curation leaves read: 10-100 words from a 30-word vocabulary, and
    * one document in twenty a near-copy of an earlier one.
    */
  def documents(spark: SparkSession, seed: Long, n: Int, path: String): Unit = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x646f6373L)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val text =
        if (i >= 10 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(path)
  }

  /** `embeddings` table (vec_id, embedding float[dim], label): unit vectors
    * scattered around ten unit centroids.
    */
  def embeddings(spark: SparkSession, seed: Long, n: Int, dim: Int, path: String): Unit = {
    val rnd = new java.util.Random(seed ^ 0x656d62L)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val centroids = Array.fill(10)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val rows = (0 until n).map { i =>
      val label = rnd.nextInt(centroids.length)
      val v = unit(centroids(label).map(_ + 0.6 * rnd.nextGaussian() / math.sqrt(dim)))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(path)
  }
}
