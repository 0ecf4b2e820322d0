package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Util {
  def list(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toVector)

  def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala.toVector)

  def deleteTree(dir: Path): Unit =
    walk(dir).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)

  def copyTree(from: Path, to: Path): Unit =
    walk(from).sortBy(_.getNameCount).foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  /** Bytes of the regular files under `dir` whose names do not start with a
    * dot (Hadoop's checksum side files). */
  def dirBytes(dir: Path): Long =
    walk(dir).filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  /** Bytes of a table's commit metadata: snapshots, manifests and
    * change-manifest sidecars. */
  def metadataBytes(table: Path): Long =
    Seq("snapshots", "manifests", "changes").map(d => dirBytes(table.resolve(d))).sum

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Most memory (heap and non-heap pools) this JVM held right after a
    * garbage collection, in MiB, since `watchGc` was called: what the run
    * keeps reachable at its peak. Unlike the resident set, it does not
    * depend on how far the collector let the heap grow. */
  @volatile private var usedAfterGc = 0L
  def peakAfterGcMb: Double = usedAfterGc / 1048576.0

  def watchGc(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      gc.asInstanceOf[NotificationEmitter].addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, handback: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            Util.synchronized { usedAfterGc = math.max(usedAfterGc, used) }
          }
      }, null, null)
    }

  /** (total, steal, sys) jiffies summed over all CPUs, from /proc/stat. */
  def cpuJiffies(): (Long, Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val cols = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (cols.sum, if (cols.length > 7) cols(7) else 0L, cols(2))
    } finally f.close()
  }

  /** Row count and an order-independent hash of the live-state columns. */
  def stateDigest(df: DataFrame): (Long, Long) = {
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts").map(col)
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Logical bytes of live rows: string bytes plus 4 for turn_idx and 8 for ts. */
  def logicalBytes(df: DataFrame): Long =
    df.agg(coalesce(sum(octet_length(col("conv_id")) + octet_length(col("role")) +
      coalesce(octet_length(col("text")), lit(0)) +
      coalesce(octet_length(col("tool")), lit(0)) + lit(12)), lit(0L))).head().getLong(0)
}
