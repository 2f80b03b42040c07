package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Command-line options, as run.py passes them. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cpus: Int, runDir: Path, outDir: Path, benchDir: Path,
                      startNs: Long)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cpus").toInt, Paths.get(need("run-dir")),
      Paths.get(need("out-dir")), Paths.get(need("bench-dir")), need("start-ns").toLong)
  }
}

/** What a workload hands back: the check tally, the end-to-end and
  * per-layer figures, and descriptive facts for the run's record. */
final case class Outcome(checks: Checks.Tally, e2e: Map[String, Double],
                         layer: Map[String, Double], info: Map[String, Any])

object Run {

  /** Creates a fresh directory under the run's own directory. */
  def dir(o: Opts, name: String): Path = {
    val d = o.runDir.resolve(name)
    Files.createDirectories(d)
    d
  }

  /** Seconds since run.py started this JVM's process (epoch ns), so a
    * set-up includes JVM boot, class loading and the first session. */
  def sinceStart(o: Opts): Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - o.startNs) / 1e9
  }

  /** NaN is written as a bare `NaN`, which run.py reads and nulls. */
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  /** One JSON line of Scala maps, sequences and numbers. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val heapAfterGc = new AtomicLong()

  /** Starts tracking the heap in use right after each garbage collection,
    * that is the data the program keeps alive; see [[heapPeakMb]]. */
  def trackHeap(): Unit = ManagementFactory.getGarbageCollectorMXBeans.forEach { gc =>
    gc.asInstanceOf[NotificationEmitter].addNotificationListener((n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        heapAfterGc.accumulateAndGet(used, math.max)
      }, null, null)
  }

  /** The largest heap in use right after any collection so far, in MB. */
  def heapPeakMb(): Double = heapAfterGc.get / (1024.0 * 1024.0)

  /** Peak resident set of this JVM, from /proc (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}

object Stats {
  /** Linear-interpolated quantile of unsorted values; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
