package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.model.{IngestConfig, Schemas}
import graft.stream.CdcIngestJob
import graft.wal.TranscriptWal

/** `serve_mixed`: reads beside writes on a prebuilt table with dirty
  * buckets. Each round of the closed loop merges one small epoch
  * (`mergeWithRetry`), then reads: point lookups (`readConvs`), a SQL point
  * read through the `GraftCatalog` (DSv2), the change feed since the
  * previous version (`changesSince`), a point read as of the previous
  * version (`readAsOf`) and a full-state aggregate over `read()`. The
  * rounds' wall time holds both sides, and the reads of a round are timed
  * together, so a write-side change that costs reads shows here. Every
  * read is checked against a model of the table kept by the benchmark
  * itself from the generated events.
  */
object ServeMixed extends Workload {
  val buckets = 64
  val baseEvents = 30000
  val nConvs = 1500
  val perRound = 400
  val pointsPerRound = 2
  /** Merges compact every few rounds, and those rounds run several times
    * slower (a compaction can spill into the next round). A full phase runs
    * on to its second compacting round: the median of its five or more
    * rounds then falls on a round without compaction. */
  val fullCompactions = 2

  private var tableDir: Path = _
  private var roundFiles: IndexedSeq[Path] = IndexedSeq.empty
  private var baseRows: Seq[Row] = Nil
  private var roundRows: IndexedSeq[Seq[Row]] = IndexedSeq.empty

  def unitSample: String = "round_s"

  def setup(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    val base = TranscriptWal.synthetic(spark, baseEvents, nConvs, seed = ctx.seed,
      deleteFraction = 0.05, turnsPerConv = 20)
    // a round takes well over a second; a phase runs on to its compactions
    val maxRounds = ctx.seconds.toInt + 12
    val rounds = TranscriptWal.synthetic(spark, maxRounds.toLong * perRound, nConvs,
        seed = ctx.seed + 1, deleteFraction = 0.1, lsnOffset = baseEvents, turnsPerConv = 20)
      .withColumn("epoch", ((col("lsn") - baseEvents) / perRound).cast("int"))
    roundFiles = Gen.writeEpochFiles(rounds, dir.resolve("rounds").toString)
    tableDir = dir.resolve("table")
    CdcIngestJob.replayBatch(spark, base,
      IngestConfig(tableDir.toString, dir.resolve("cp").toString, numBuckets = buckets))
    baseRows = base.collect().toSeq
    val byRound = spark.read.parquet(roundFiles.map(_.toString): _*)
      .withColumn("epoch", ((col("lsn") - baseEvents) / perRound).cast("int"))
      .collect().groupBy(_.getAs[Int]("epoch"))
    roundRows = roundFiles.indices.map(r => byRound.getOrElse(r, Array.empty[Row]).toSeq)
  }

  def warmup(ctx: Ctx): Unit = rounds(ctx, "warm", 1, timed = false)

  def measure(ctx: Ctx, dir: Path): Unit =
    rounds(ctx, dir.getFileName.toString.stripPrefix("phase-"), roundFiles.size, timed = true)

  /** A phase ends only after a round whose merge compacted, once its time is
    * up and (in a full phase) `fullCompactions` rounds compacted, so every
    * run weighs inline compaction alike. */
  private def endsPhase(ctx: Ctx, t0: Long, res: LakeTable#MergeResult, compactions: Int): Boolean =
    (System.nanoTime() - t0) / 1e9 >= ctx.seconds && res.compactedBuckets > 0 &&
      compactions >= (if (ctx.fullPhase) fullCompactions else 1)

  /** Last-writer-wins model of the table: key -> (lsn, op, rendered row). */
  private final class Model {
    val state = mutable.HashMap.empty[(String, Int), (Long, String, String)]
    def apply(rows: Seq[Row]): Unit = rows.foreach { r =>
      val k = (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))
      val lsn = r.getAs[Long]("lsn")
      if (state.get(k).forall(_._1 <= lsn)) state(k) = (lsn, r.getAs[String]("op"), render(r))
    }
    def conv(c: String): Seq[String] =
      state.iterator.collect { case ((cv, _), (_, op, s)) if cv == c && op != "D" => s }
        .toSeq.sorted
    def live: Iterator[String] = state.valuesIterator.collect { case (_, op, s) if op != "D" => s }
  }

  private def render(r: Row): String =
    Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .map(c => String.valueOf(r.get(r.fieldIndex(c)))).mkString("|")

  /** Collect `df` under an `op.<kind>` span whose first child span is the
    * engine call that built it; the executed plan's merge-on-read arm is
    * recorded on the span. */
  private def read(ctx: Ctx, kind: String, call: String)(df: => DataFrame): (Seq[Row], Double) =
    ctx.op(ctx.span(s"op.$kind") {
      val d = ctx.span(call)(df)
      val rows = d.collect().toSeq
      if (ctx.tracer.on) {
        ctx.tracer.annotate("rows", rows.size)
        ctx.tracer.annotate("arm", Plans.morArm(d))
      }
      rows
    })

  private def rounds(ctx: Ctx, name: String, n: Int, timed: Boolean): Unit = {
    val spark = ctx.spark
    // the catalog serves <root>/lakes/<namespace>/<table>
    val path = ctx.root.resolve("lakes").resolve(name).resolve("turns")
    Util.copyTree(tableDir, path)
    val table = LakeTable.open(spark, path.toString)
    val model = new Model
    model(baseRows)
    val rnd = new scala.util.Random(ctx.seed ^ name.hashCode)
    def pick(): String = s"c${rnd.nextInt(nConvs)}"
    var prev = table.latestVersion.get
    val dataBytes0 = Util.dirBytes(path.resolve("data"))
    var inputBytes = 0L
    var metaBytes = Util.metadataBytes(path)
    var compactions = 0
    val t0 = System.nanoTime()
    ctx.loop { r =>
      val roundStart = System.nanoTime()
      inputBytes += java.nio.file.Files.size(roundFiles(r))
      val ev = spark.read.schema(Schemas.changeEvent).parquet(roundFiles(r).toString)
      val (res, tMerge) = ctx.op(ctx.span("lake.mergeWithRetry")(
        table.mergeWithRetry(ev, "serve", r.toLong)))
      val asOfConv = pick()
      val asOfWant = model.conv(asOfConv)
      model(roundRows(r))
      if (timed) ctx.sample("epoch_s", tMerge)
      if (ctx.tracer.on) {
        val snap = ctx.span("lake.currentSnapshot")(table.currentSnapshot).get
        val meta = Util.metadataBytes(path)
        ctx.layerSample("merges", Map("ms" -> tMerge * 1000, "compacted" -> res.compactedBuckets,
          "files_added" -> snap.changeFiles.map(_.size).getOrElse(0),
          "deltas_max" -> (snap.buckets.values.map(_.deltas.size) ++ Seq(0)).max,
          "snapshot_bytes" -> (meta - metaBytes)))
        metaBytes = meta
      }

      val readsStart = System.nanoTime()
      for (_ <- 0 until pointsPerRound) {
        val c = pick()
        val (rows, t) = read(ctx, "point", "lake.readConvs")(table.readConvs(Seq(c)))
        if (timed) ctx.sample("point_s", t)
        ctx.check("serve.point", rows.map(render).sorted == model.conv(c), s"conv $c")
      }

      val c = pick()
      val (sqlRows, tSql) = read(ctx, "sql", "lake.catalog.sql")(spark.sql(
        s"SELECT conv_id, turn_idx, role, text, tool, ts FROM bench.$name.turns " +
          s"WHERE conv_id = '$c'"))
      if (timed) ctx.sample("sql_s", tSql)
      ctx.check("serve.sql", sqlRows.map(render).sorted == model.conv(c), s"conv $c")

      val (changes, tCh) = read(ctx, "changes", "lake.changesSince")(table.changesSince(prev))
      if (timed) ctx.sample("changes_s", tCh)
      def keys(rows: Seq[Row], lsnCol: String) = rows.map(x =>
        (x.getAs[String]("conv_id"), x.getAs[Int]("turn_idx"), x.getAs[Long](lsnCol),
          x.getAs[String]("op"))).sorted
      ctx.check("serve.changes", keys(changes, "_lsn") == keys(roundRows(r), "lsn"),
        s"round $r change feed since v$prev")

      val (asOf, tAsOf) = read(ctx, "asof", "lake.readAsOf")(
        table.readAsOf(prev).where(col("conv_id") === asOfConv))
      if (timed) ctx.sample("asof_s", tAsOf)
      ctx.check("serve.asof", asOf.map(render).sorted == asOfWant, s"conv $asOfConv at v$prev")

      val (agg, tScan) = read(ctx, "scan", "lake.read")(
        table.read().agg(count(lit(1)), coalesce(sum(length(col("text"))), lit(0L))))
      if (timed) ctx.sample("scan_s", tScan)
      val roundEnd = System.nanoTime()
      if (timed) {
        ctx.sample("round_s", (roundEnd - roundStart) / 1e9)
        ctx.sample("reads_s", (roundEnd - readsStart) / 1e9)
      }
      val live = model.live.toSeq
      val textLen = live.map(_.split("\\|", -1)(3).length.toLong).sum
      ctx.check("serve.scan", agg.head.getLong(0) == live.size && agg.head.getLong(1) == textLen,
        s"scan ${agg.head} vs model (${live.size}, $textLen)")
      prev = res.version
      if (res.compactedBuckets > 0) compactions += 1
      r + 1 < n && r + 1 < roundFiles.size && !(timed && endsPhase(ctx, t0, res, compactions))
    }
    if (timed) ctx.layer("lake.write_amp",
      (Util.dirBytes(path.resolve("data")) - dataBytes0).toDouble / inputBytes)
  }
}
