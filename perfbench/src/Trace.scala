package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into the engine's modules,
  * plus the Spark work each span caused.
  *
  * A span sets the Spark job group to its own name, so the listener below
  * can key every job (and through its stages every task) to the innermost
  * open span. Jobs submitted from threads the span did not start carry no
  * group; they, and jobs inside one lazy action, are also keyed by the
  * file of their short call site (`callSite.short`, else the name of the
  * job's result stage, which Spark sets to it). Everything stays in memory until the
  * benchmark prints it. With tracing off `span` is a plain call.
  */
object Trace {
  @volatile var enabled = false

  private val JobGroup = "spark.jobGroup.id"
  private val JobDescription = "spark.job.description"

  final class Stat {
    val durNs = ArrayBuffer.empty[Long]
    var selfNs = 0L
    var buildNs = 0L
    var builds = 0
    var jobs = 0
    var jobMs = 0L
    var tasks = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var resultBytes = 0L
    var bytesWritten = 0L
    def calls: Int = durNs.size
  }

  private val spans = new ConcurrentHashMap[String, Stat]()
  private val sites = new ConcurrentHashMap[String, Stat]()
  def stat(name: String): Stat = spans.computeIfAbsent(name, _ => new Stat)
  def site(file: String): Stat = sites.computeIfAbsent(file, _ => new Stat)

  private final class Frame(val name: String) { var childNs = 0L }
  private val stack = new ThreadLocal[List[Frame]] { override def initialValue() = Nil }

  private def sc: SparkContext = SparkContext.getOrCreate()

  /** Time `body` as span `name`; its self time excludes nested spans. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val ctx = sc
      val prevGroup = ctx.getLocalProperty(JobGroup)
      val prevDesc = ctx.getLocalProperty(JobDescription)
      val frame = new Frame(name)
      stack.set(frame :: stack.get)
      ctx.setLocalProperty(JobGroup, name)
      ctx.setLocalProperty(JobDescription, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = System.nanoTime() - t0
        stack.set(stack.get.tail)
        stack.get.headOption.foreach(_.childNs += dt)
        val s = stat(name)
        s.synchronized { s.durNs += dt; s.selfNs += dt - frame.childNs }
        ctx.setLocalProperty(JobGroup, prevGroup)
        ctx.setLocalProperty(JobDescription, prevDesc)
      }
    }

  /** Time the part of a call that runs before its result is acted on. */
  def build[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        val s = stat(name)
        s.synchronized { s.buildNs += System.nanoTime() - t0; s.builds += 1 }
      }
    }

  // ---- substrate totals over the traced window ------------------------------
  @volatile var planNs = 0L
  @volatile var jobs = 0
  @volatile var tasks = 0
  @volatile var gcMs = 0L
  @volatile var runMs = 0L

  def reset(): Unit = synchronized {
    spans.clear(); sites.clear(); jobSpan.clear(); jobSite.clear(); stageJob.clear()
    jobStart.clear(); resetTotals()
  }

  /** Restart the substrate totals only; span statistics carry on. */
  def resetTotals(): Unit = synchronized {
    planNs = 0; jobs = 0; tasks = 0; gcMs = 0; runMs = 0
  }

  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val jobSite = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()

  private def siteFile(short: String): String =
    Option(short).map(_.split(" at ").last.takeWhile(_ != ':')).getOrElse("?")

  private def targets(jobId: Int): Seq[Stat] =
    Option(jobSpan.get(jobId)).map(stat).toSeq ++ Option(jobSite.get(jobId)).map(site)

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(JobGroup)))
        .foreach(g => jobSpan.put(e.jobId, g))
      // a job's result stage is named by its short call site, "<action> at <File>:<line>"
      val short = props.flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      jobSite.put(e.jobId, siteFile(short.orNull))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobStart.put(e.jobId, e.time)
      Trace.synchronized { jobs += 1 }
      targets(e.jobId).foreach(s => s.synchronized { s.jobs += 1 })
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      Option(jobStart.get(e.jobId)).foreach { t0 =>
        targets(e.jobId).foreach(s => s.synchronized { s.jobMs += e.time - t0 })
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
      val m = e.taskMetrics
      Trace.synchronized {
        tasks += 1; gcMs += m.jvmGCTime; runMs += m.executorRunTime
      }
      Option(stageJob.get(e.stageId)).foreach { job =>
        targets(job).foreach(s => s.synchronized {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.resultBytes += m.resultSize
          s.bytesWritten += m.outputMetrics.bytesWritten
        })
      }
    }
  }

  object QueryListener extends QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = if (enabled) {
      val ns = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
      Trace.synchronized { planNs += ns }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(QueryListener)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchListenerBus.drain(spark.sparkContext)

  def siteStats: Map[String, Stat] = sites.asScala.toMap
}
