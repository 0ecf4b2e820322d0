package graftbench

import java.nio.file.Path

import graft.lake.LakeTable
import graft.model.IngestConfig
import graft.stream.CdcIngestJob
import graft.wal.TranscriptWal

/** `bulk_replay`: one large epoch through `CdcIngestJob.replayBatch` with
  * sanitize on, as interleaved pairs at 1 core and at `nproc` cores over
  * the same WAL files. WAL scan, the ops pipeline, the bucket shuffle and
  * delta-write bandwidth dominate; per-commit costs vanish. The 1-core side
  * is the single-threaded baseline, the pair gives the scaling efficiency.
  */
object BulkReplay extends Workload {
  val buckets = 64
  val events = 80000
  val nConvs = 20000
  val walFiles = 16

  private var walDir: String = _
  private var walRows = 0L

  def unitSample: String = "replay_s.cN"
  override def fixedPlan: Boolean = true

  def setup(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    walDir = dir.resolve("wal").toString
    TranscriptWal.synthetic(spark, events, nConvs, seed = ctx.seed, hotConvShare = 0.05,
      dupFraction = 0.02, deleteFraction = 0.05).repartition(walFiles).write.parquet(walDir)
    walRows = spark.read.parquet(walDir).count()
  }

  private def conf(dir: Path) = IngestConfig(dir.resolve("table").toString,
    dir.resolve("cp").toString, numBuckets = buckets, sanitize = true)

  def warmup(ctx: Ctx): Unit = ()

  def measure(ctx: Ctx, dir: Path): Unit = {
    val digests = scala.collection.mutable.ArrayBuffer.empty[(String, (Long, Long))]
    ctx.closedLoop { i =>
      // the session already open runs its side first
      val order = if (i % 2 == 0) Seq(ctx.cores, 1) else Seq(1, ctx.cores)
      val secs = order.map { n =>
        val spark =
          if (ctx.spark.sparkContext.master == s"local[$n]") ctx.spark
          else ctx.session(n, fixedPlan = true)
        // warm this session on one of the WAL's files
        CdcIngestJob.replayBatch(spark, spark.read.parquet(s"$walDir/part-00000-*"),
          conf(dir.resolve(s"warm-$i-$n")))
        val side = if (n == 1) "c1" else "cN"
        val target = dir.resolve(s"pair-$i-$n")
        val (_, t) = ctx.op(ctx.span(s"stream.replayBatch.$side")(
          CdcIngestJob.replayBatch(spark, spark.read.parquet(walDir), conf(target))))
        ctx.sample(s"replay_s.$side", t)
        digests += s"pair $i at $n cores" ->
          Util.stateDigest(LakeTable.open(spark, target.resolve("table").toString).read())
        n -> t
      }.toMap
      val tput1 = walRows / secs(1)
      val tputN = walRows / secs(ctx.cores)
      ctx.sample("replay_events_per_s.c1", tput1)
      ctx.sample("replay_events_per_s.cN", tputN)
      ctx.sample("scaling_efficiency", tputN / tput1 / ctx.cores)
      true
    }
    val spark = ctx.spark
    ctx.layer("lake.write_amp", Util.dirBytes(dir.resolve(s"pair-0-${ctx.cores}/table/data")).toDouble /
      Util.dirBytes(java.nio.file.Paths.get(walDir)))
    // Every table equals the others and the expected state.
    val want = Util.stateDigest(TranscriptWal.expectedState(
      CdcIngestJob.pipeline(spark.read.parquet(walDir), conf(dir), 0L)))
    digests.foreach { case (name, got) =>
      ctx.check("bulk.final_state", got == want, s"$name: $got != expected $want")
    }
  }
}
