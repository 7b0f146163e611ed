package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** JVM and host counters, read as cumulative values and differenced around
  * a query or a pass. A `/proc` source that cannot be read gives -1. */
final case class Snap(gcMs: Long, jitMs: Long, codegen: Long, stealMs: Long, runqMs: Long) {
  def to(b: Snap): Snap = Snap(b.gcMs - gcMs, b.jitMs - jitMs, b.codegen - codegen,
    Counters.delta(stealMs, b.stealMs), Counters.delta(runqMs, b.runqMs))
}

object Counters {
  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)))

  def delta(a: Long, b: Long): Long = if (a < 0 || b < 0) -1L else math.max(0L, b - a)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Whole-stage-codegen compilations so far (Janino). */
  def codegen(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Host CPU steal, all CPUs: field 8 of the `cpu` line, in 10 ms ticks. */
  def stealMs(): Long =
    try read("/proc/stat").linesIterator.next().trim.split("\\s+")(8).toLong * 10L
    catch { case _: Exception => -1L }

  /** Time this process's threads were runnable but waiting for a core. */
  def runqMs(): Long = try {
    var ns = 0L
    val it = Files.list(Paths.get("/proc/self/task"))
    try it.forEach { t =>
      try ns += read(t.resolve("schedstat").toString).trim.split("\\s+")(1).toLong
      catch { case _: Exception => () } // the thread ended during the walk
    } finally it.close()
    ns / 1000000L
  } catch { case _: Exception => -1L }

  def snap(): Snap = Snap(gcMs(), jitMs(), codegen(), stealMs(), runqMs())

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Largest heap in use just after a collection, since the last `reset`.
  * Fed by the collectors' notifications, so it costs nothing between GCs. */
object HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }
}
