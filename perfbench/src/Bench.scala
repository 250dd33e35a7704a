package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload hands back: the end-to-end metrics, how many operations
  * it attempted and how many failed, the per-layer metrics of a traced run,
  * and free-form evidence for the record.
  */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val mismatches = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && mismatches.size < 50) mismatches += what
}

/** What every workload gets: the session, its arguments and a work directory. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: String) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

object Bench {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = osBean.getProcessCpuTime
  def nowNs(): Long = System.nanoTime()

  /** Driver heap still referenced after forced full collections; the pauses
    * let Spark's context cleaner drop blocks whose datasets died in between.
    */
  def retainedHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Seconds since the JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def contention(): Map[String, Any] = Map(
    "process_cpu_s" -> cpuNs() / 1e9,
    "process_wall_s" -> sinceJvmStart(),
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "load_avg_1m" -> osBean.getSystemLoadAverage,
    "phys_mem_mb" -> osBean.getTotalMemorySize / (1024 * 1024),
    "free_mem_mb" -> osBean.getFreeMemorySize / (1024 * 1024),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "jvm" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION)

  // ---- minimal JSON writer ---------------------------------------------------
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => Chain.q(s.replace("\n", " ").replace("\t", " "))
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case (a, b) => json(Seq(a, b))
    case other => json(other.toString)
  }
}
