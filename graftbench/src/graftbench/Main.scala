package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonSerializer, ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the Spark session, the tracer, the samples
  * and checks of each phase, and the operation counts. `seconds` is the
  * length of one measured phase. A `fullPhase` measures as many units of
  * work as the workload's figures need to be steady, and may run on past
  * `seconds` for them; otherwise a phase ends at the first boundary of a
  * unit of work after `seconds`.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val cores: Int, val root: Path, val fullPhase: Boolean) {
  var spark: SparkSession = _
  val tracer = new Tracer
  val recorders = mutable.ArrayBuffer.empty[JobRecorder]
  var tracing = false

  final class Phase {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val values = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Any]
    var cpu0 = Util.cpuJiffies()
    var cpu1 = cpu0
  }
  val phases = mutable.LinkedHashMap.empty[String, Phase]
  var phase: Phase = new Phase
  val setupS = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L

  /** (Re)start the session at `n` cores: at most `n` task threads. With
    * tracing on, a fresh benchmark-owned listener is attached.
    */
  def session(n: Int, fixedPlan: Boolean = false): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"graftbench-$workload-$n")
      // as graft.Bench: one shuffle partition per bucket of a 64-bucket
      // table, so merges and compactions run one task per bucket
      .config("spark.sql.shuffle.partitions", "64")
      // Coalescing sizes its partitions to the core count; without it the
      // plan depends on the data only.
      .config("spark.sql.adaptive.coalescePartitions.enabled", (!fixedPlan).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.sql.catalog.bench", "graft.lake.GraftCatalog")
      .config("spark.sql.catalog.bench.root", root.resolve("lakes").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (tracing) attachRecorder()
    spark
  }

  def attachRecorder(): Unit = {
    val r = new JobRecorder
    spark.sparkContext.addSparkListener(r)
    recorders += r
  }

  def sample(name: String, v: Double): Unit =
    phase.samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def value(name: String, v: Any): Unit = phase.values(name) = v
  def layer(name: String, v: Any): Unit = phase.layers(name) = v
  def layerSample(name: String, v: Any): Unit =
    phase.layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Any])
      .asInstanceOf[mutable.ArrayBuffer[Any]] += v

  /** A correctness check; a failed one counts as a failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) {
      failed += 1
      System.err.println(s"CHECK FAILED $name: $detail")
    }
  }

  /** One timed operation of the closed loop. */
  def op[A](f: => A): (A, Double) = {
    attempted += 1
    Util.seconds(f)
  }

  /** Run `unit` back to back until the phase has lasted `seconds` (at least
    * once), or until `unit` returns false. */
  def closedLoop(unit: Int => Boolean): Unit = {
    val t0 = System.nanoTime()
    loop(i => unit(i) && (System.nanoTime() - t0) / 1e9 < seconds)
  }

  /** Run `unit` back to back until it returns false. */
  def loop(unit: Int => Boolean): Unit = {
    var i = 0
    while (unit(i)) i += 1
  }

  def span[A](name: String)(f: => A): A = tracer.span(name)(f)

  /** Hypervisor steal share of all CPUs above which a unit of work (a
    * compaction cycle, a serving round) counts as disturbed by the host,
    * like graft.Bench's quiet-pair rule. */
  val stormySteal = 0.02

  /** Steal share of all CPUs from now until the returned function is called. */
  def stealMeter(): () => Double = {
    val (t0, s0, _) = Util.cpuJiffies()
    () => {
      val (t1, s1, _) = Util.cpuJiffies()
      (s1 - s0).toDouble / math.max(1L, t1 - t0)
    }
  }

  /** Before a phase, wait for a 2-second window in which hypervisor steal
    * stays under `stormySteal`: steal storms on a shared host last a minute
    * or so and slow every run caught in one. The phases of a run wait at
    * most `quietWaitS` in all, so a run's length stays bounded. */
  val quietWaitS = 10.0
  private var quietWaitedS = 0.0
  def awaitQuiet(): Unit = {
    var quiet = false
    while (!quiet && quietWaitedS < quietWaitS) {
      val steal = stealMeter()
      Thread.sleep(2000)
      quietWaitedS += 2
      quiet = steal() < stormySteal
    }
  }

  /** Units of work measured with their steal share: the quiet ones if any,
    * else all. The samples of the kept units are recorded. */
  def keepQuiet[U](units: Seq[(Double, U)])(samples: U => Seq[(String, Double)]): Seq[U] = {
    val quiet = units.filter(_._1 < stormySteal)
    val kept = (if (quiet.nonEmpty) quiet else units).map(_._2)
    kept.foreach(u => samples(u).foreach { case (k, v) => sample(k, v) })
    value("units", units.size)
    value("quiet_units", quiet.size)
    kept
  }

  /** Run one measured phase; the traced phase records spans and Spark
    * listener events, the untraced ones do not. */
  def runPhase(name: String, traced: Boolean)(f: => Unit): Unit = {
    phase = new Phase
    phases(name) = phase
    if (traced && !tracing) {
      tracing = true
      attachRecorder()
    }
    tracer.on = traced
    val dir = root.resolve(s"phase-$name")
    Files.createDirectories(dir)
    awaitQuiet()
    phase.cpu0 = Util.cpuJiffies()
    try f
    finally {
      phase.cpu1 = Util.cpuJiffies()
      tracer.on = false
      if (tracing) {
        tracing = false
        recorders.foreach(spark.sparkContext.removeSparkListener(_))
      }
    }
  }

  def phaseDir(name: String): Path = root.resolve(s"phase-$name")

  def toJson(extra: Map[String, Any]): String = {
    val phasesJson = phases.map { case (n, p) =>
      val (t0, s0, y0) = p.cpu0
      val (t1, s1, y1) = p.cpu1
      val d = math.max(1L, t1 - t0).toDouble
      n -> Map("samples" -> p.samples.map { case (k, v) => k -> v.toSeq }.toMap,
        "values" -> p.values.toMap, "layers" -> p.layers.toMap,
        "steal_share" -> (s1 - s0) / d, "sys_share" -> (y1 - y0) / d)
    }
    Main.json.writeValueAsString(Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "conditions" -> Map("nproc" -> cores,
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "scala" -> scala.util.Properties.versionNumberString),
      "setup_s" -> setupS.toSeq, "peak_rss_mb" -> Util.peakRssMb,
      "peak_live_mb" -> Util.peakAfterGcMb,
      "attempted" -> attempted, "failed" -> failed, "checks" -> checks.toSeq,
      "phases" -> phasesJson,
      "spans" -> tracer.toJson,
      "jobs" -> recorders.zipWithIndex.flatMap { case (r, i) =>
        r.jobsJson.map(_ + ("ctx" -> i)) },
      "stages" -> recorders.zipWithIndex.flatMap { case (r, i) =>
        r.stagesJson.map(_ + ("ctx" -> i)) }) ++ extra)
  }
}

/** A benchmark workload: inputs made in set-up, a warm-up, and a measured
  * closed-loop phase that checks its own outputs. */
trait Workload {
  /** Generate this run's inputs under `dir`. Timed as set-up. */
  def setup(ctx: Ctx, dir: Path): Unit
  /** Untimed work that warms the JIT and Spark's code generation. */
  def warmup(ctx: Ctx): Unit
  /** One measured phase writing under `dir`. */
  def measure(ctx: Ctx, dir: Path): Unit
  /** Sample whose traced-minus-untraced median is the tracing overhead. */
  def unitSample: String
  /** Sessions take no partition coalescing, which depends on the core count. */
  def fixedPlan: Boolean = false
  /** Extra raw results for the report (e.g. oracle inputs). */
  def extra(ctx: Ctx): Map[String, Any] = Map.empty
}

/** Entry point:
  * {{{
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --cores C --root DIR --out FILE
  * }}}
  * Writes the run's raw results (samples, checks, spans, listener events)
  * as JSON to FILE; `run.py` turns them into metrics.
  */
object Main {
  val setupRepeats = 3

  /** Writer of the raw-results file; a non-finite double (an interval not
    * yet closed) is written as null. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .registerModule(new SimpleModule().addSerializer(classOf[java.lang.Double],
      new JsonSerializer[java.lang.Double] {
        def serialize(d: java.lang.Double, g: JsonGenerator, p: SerializerProvider): Unit =
          if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
      }))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload: Workload = arg("workload") match {
      case "cdc_stream"     => CdcStream
      case "bulk_replay"    => BulkReplay
      case "serve_mixed"    => ServeMixed
      case "curation_dedup" => CurationDedup
      case other            => sys.error(s"unknown workload $other")
    }
    val root = Paths.get(arg("root")).toAbsolutePath
    val traced = arg("trace") == "1"
    // A traced run measures three phases (below). Each lasts half the run
    // length and is not a full phase: its figures are not gated, and the
    // run has to end in time.
    val ctx = new Ctx(arg("workload"), arg("seed").toLong,
      arg("seconds").toDouble / (if (traced) 2 else 1), arg("cores").toInt, root,
      fullPhase = !traced)
    Files.createDirectories(root)
    Util.watchGc()
    log("starting session")
    ctx.session(ctx.cores, workload.fixedPlan)

    // Set-up runs several times into fresh directories; the last one's
    // inputs are used, and the median time is reported.
    var inputs: Path = null
    for (i <- 0 until setupRepeats) {
      if (inputs != null) Util.deleteTree(inputs)
      inputs = root.resolve(s"inputs-$i")
      ctx.setupS += Util.seconds(workload.setup(ctx, inputs))._2
    }
    log(s"set-up done: ${ctx.setupS.mkString(", ")} s")
    workload.warmup(ctx)
    log("warm-up done")
    // A traced run measures untraced, traced, untraced again: the tracing
    // overhead is taken against both untraced phases, so that the traced
    // phase running later, in a warmer JVM, does not read as a gain.
    val order = if (traced) Seq("untraced" -> false, "traced" -> true, "untraced2" -> false)
                else Seq("untraced" -> false)
    for ((name, on) <- order) {
      ctx.runPhase(name, traced = on)(workload.measure(ctx, ctx.phaseDir(name)))
      log(s"$name phase done")
    }
    val json = ctx.toJson(Map("unit_sample" -> workload.unitSample) ++ workload.extra(ctx))
    ctx.spark.stop()
    Files.writeString(Paths.get(arg("out")), json)
    log("results written")
  }

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f s: $msg")
}
