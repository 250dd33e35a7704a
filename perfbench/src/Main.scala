package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the indexer benchmark JVM.
  *
  *   perfbench.Main --workload <live|curate> --seed <n>
  *                  --seconds <s> --trace <0|1> --work <dir> --out <file>
  *
  * Writes one JSON object to `--out`: correct, attempted, failed, metrics
  * (end-to-end with --trace 0, per-layer with --trace 1), mismatches and
  * the contention record. `run.py` is the user-facing command.
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "live" -> Live.run,
    "curate" -> Curate.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val out = opts("out")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))

    Files.createDirectories(Paths.get(work))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.install(spark)

    val ctx = new Ctx(spark, seed, seconds, trace, work)
    val o =
      try run(ctx)
      catch {
        case e: Throwable =>
          val o = new Outcome
          o.attempted = 1; o.failed = 1
          o.mismatches += s"workload aborted: ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
          o
      }
    val correct = o.mismatches.isEmpty
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> (if (trace) o.layers.map { case (k, v) => k -> Map("value" -> v) }
                    else o.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }),
      "mismatches" -> o.mismatches,
      "detail" -> o.detail,
      "contention" -> Bench.contention())
    Files.writeString(Paths.get(out), Bench.json(record))
    spark.stop()
  }
}
