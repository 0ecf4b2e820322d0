package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.model.{IngestConfig, Schemas}
import graft.ops.CdcOps
import graft.stream.CdcIngestJob
import graft.wal.TranscriptWal

/** `cdc_stream`: the production ingest path. One client offers one small
  * WAL epoch file at a time and offers the next only when the streaming
  * query (`CdcIngestJob.startWithMetrics`, one file per trigger) reports the
  * previous epoch committed into a 64-bucket table. Per-commit fixed costs
  * and the inline-compaction cadence dominate. Epochs are timed in whole
  * compaction cycles from the stream's first; the phase ends once
  * `seconds` have passed and, in a full phase, two cycles ran quiet or
  * twice that time has passed.
  */
object CdcStream extends Workload {
  val buckets = 64
  val perEpoch = 6000
  val nConvs = 4000
  /** Epochs are offered in whole rounds of this many: one inline-compaction
    * cycle at the engine's default bound of 4 delta epochs per bucket, so
    * every run weighs compaction alike. */
  val cycle = 5

  private var epochFiles: IndexedSeq[Path] = IndexedSeq.empty

  def unitSample: String = "epoch_s"

  val quietCycles = 2

  /** Epochs no phase can exhaust: an epoch takes well over half a second,
    * and a phase lasts at most twice `seconds` and a cycle. */
  private def epochsFor(ctx: Ctx): Int =
    (math.ceil(ctx.seconds * 4).toInt / cycle + 1) * cycle

  def setup(ctx: Ctx, dir: Path): Unit =
    epochFiles = Gen.writeEpochFiles(
      Gen.cdcEvents(ctx.spark, ctx.seed, epochsFor(ctx), perEpoch, nConvs),
      dir.resolve("wal").toString)

  /** A stream of two epochs, checked like a measured one. */
  def warmup(ctx: Ctx): Unit = stream(ctx, ctx.root.resolve("warm"), epochFiles.take(2))

  private def conf(dir: Path) = IngestConfig(
    tablePath = dir.resolve("table").toString,
    checkpointPath = dir.resolve("checkpoint").toString,
    numBuckets = buckets, sanitize = true, maxFilesPerTrigger = 1,
    followInterval = Some("0 seconds"))

  def measure(ctx: Ctx, dir: Path): Unit = stream(ctx, dir, epochFiles)

  private def stream(ctx: Ctx, dir: Path, files: IndexedSeq[Path]): Unit = {
    val spark = ctx.spark
    val walDir = dir.resolve("wal")
    Files.createDirectories(walDir)
    val c = conf(dir)
    // Visible only once complete: copy under a hidden name, then rename.
    def offer(k: Int): Unit = {
      val hidden = walDir.resolve(s".${files(k).getFileName}")
      Files.copy(files(k), hidden)
      Files.setLastModifiedTime(hidden, FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(hidden, walDir.resolve(files(k).getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val table = new LakeTable(spark, c.tablePath, buckets)
    var prevSnap: Option[table.Snapshot] = None
    val tableDir = java.nio.file.Paths.get(c.tablePath)
    var metaBytes = 0L
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

    offer(0)
    var offered = 1
    // timed cycles: (first epoch, steal share, seconds)
    val cycles = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    val (query, ingest) =
      ctx.span("stream.startWithMetrics")(CdcIngestJob.startWithMetrics(spark, walDir.toString, c))
    val t0 = System.nanoTime()
    var cycleStart = t0
    var steal = ctx.stealMeter()
    try {
      var more = true
      while (more) {
        ctx.attempted += 1
        val b = progress.done.poll(120, TimeUnit.SECONDS)
        if (b == null) {
          ctx.check("cdc.epoch_committed", ok = false,
            s"epoch ${offered - 1} not committed within 120 s: ${query.exception}")
          more = false
        } else {
          val now = System.nanoTime()
          if (offered % cycle == 0) {
            cycles += ((offered - cycle, steal(), (now - cycleStart) / 1e9))
            cycleStart = now
            steal = ctx.stealMeter()
          }
          if (ctx.tracer.on) {
            val snap = ctx.span("lake.currentSnapshot")(table.currentSnapshot)
            val meta = Util.metadataBytes(tableDir)
            snap.foreach { s =>
              // a bucket whose base files changed was compacted by this commit
              val compacted = s.buckets.count { case (bk, st) =>
                prevSnap.flatMap(_.buckets.get(bk)).exists(_.base != st.base)
              }
              perBatch += Map("batch" -> b.longValue, "compacted" -> compacted,
                "deltas_max" -> (s.buckets.values.map(_.deltas.size) ++ Seq(0)).max,
                "files_added" -> s.changeFiles.map(_.size).getOrElse(0),
                "snapshot_bytes" -> (meta - metaBytes))
            }
            metaBytes = meta
            prevSnap = snap
          }
          val elapsed = (now - t0) / 1e9
          val done = offered % cycle == 0 && elapsed >= ctx.seconds && (!ctx.fullPhase ||
            cycles.count(_._2 < ctx.stormySteal) >= quietCycles || elapsed >= 2 * ctx.seconds)
          if (offered < files.size && !done) {
            offer(offered)
            offered += 1
          } else more = false
        }
      }
    } finally {
      query.stop()
      spark.streams.removeListener(progress)
    }

    // Cycles the host disturbed are set aside when quiet ones exist.
    val batches = progress.batches
    def epochSeconds(m: Map[String, Any]) =
      m("durations").asInstanceOf[Map[String, Long]].getOrElse("triggerExecution", 0L) / 1000.0
    val offeredDf = spark.read.schema(Schemas.changeEvent)
      .parquet(files.take(offered).map(_.toString): _*)
    val eventsOf = offeredDf.groupBy(input_file_name()).count().collect()
      .map(r => java.nio.file.Paths.get(new java.net.URI(r.getString(0))).getFileName.toString ->
        r.getLong(1)).toMap
    val walEvents = eventsOf.values.sum
    val kept = ctx.keepQuiet(cycles.toSeq.map { case (first, st, secs) => st -> (first, secs) }) {
      case (first, _) => batches.filter(m => (first until first + cycle)
        .contains(m("batch").asInstanceOf[Long].toInt)).map(m => "epoch_s" -> epochSeconds(m))
    }
    val keptEvents = kept.flatMap { case (first, _) =>
      (first until first + cycle).map(k => eventsOf(files(k).getFileName.toString)) }.sum
    ctx.value("epochs", batches.size)
    ctx.value("ingest_events_per_s", keptEvents / kept.map(_._2).sum)
    ctx.layer("batches", batches)
    ctx.layer("snapshots", perBatch.toSeq)
    ctx.layer("ops.applied_ratio", ingest.eventsApplied.toDouble / walEvents)
    ctx.layer("ops.late_drops", ingest.lateDrops)
    // source rows the query read per WAL event: above 1 when a batch is scanned twice
    ctx.layer("stream.source_rows_per_event",
      batches.map(_("rows").asInstanceOf[Long]).sum.toDouble / walEvents)
    val walBytes = files.take(offered).map(Files.size).sum
    ctx.layer("lake.write_amp",
      Util.dirBytes(tableDir.resolve("data")).toDouble / walBytes)

    // Checks: final state == expected state over every offered epoch, and a
    // committed epoch offered again is a no-op.
    val live = table.read()
    val got = Util.stateDigest(live)
    val want = Util.stateDigest(TranscriptWal.expectedState(CdcOps.sanitize(offeredDf)))
    ctx.check("cdc.final_state", got == want, s"table $got != expected $want")
    ctx.check("cdc.epochs_committed", batches.size == offered,
      s"${batches.size} epochs reported, $offered offered")
    val snap = table.currentSnapshot.get
    val again = table.merge(
      CdcIngestJob.pipeline(spark.read.schema(Schemas.changeEvent).parquet(files(0).toString),
        c, snap.highWaterMicros),
      "cdc-" + c.checkpointPath, 0L)
    ctx.check("cdc.reoffer_is_noop", !again.applied && table.latestVersion.contains(snap.version),
      s"re-offered epoch 0 applied=${again.applied}")
    ctx.value("space_amp",
      Util.dirBytes(tableDir).toDouble / Util.logicalBytes(live))
  }
}
