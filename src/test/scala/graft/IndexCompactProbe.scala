package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ops.Multimodal
import graft.streaming.{BandedIndexSink, BandingScheme}

/** Streaming-index compaction probe (test scope): how does a micro-batch's
  * PROBE cost grow with accumulated batch count, and what does an
  * amortized `compact()` buy? The append-only chunk index accretes
  * O(batches x partitions-touched) small parquet files; every historical
  * probe pays the listing + footer cost of all of them. Claim under test
  * (IndexDirs.compact docstring): compaction folds the file count to
  * ~O(buckets) and returns the probe latency to its early-stream level —
  * and probe results are unchanged (spec-gated in IndexCompactionSpec;
  * this probe is the measurement half).
  *
  * One continuous stream of 2-image batches (fresh synthetic groups, so
  * state genuinely grows); at each checkpoint the probe batch is the SAME
  * pair of images (one near-dup of batch 0, one fresh), timed twice —
  * against the accreted layout, then after compact().
  *
  * Run: `Test/runMain graft.IndexCompactProbe [checkpoints...]`
  * (default 32 128 256). Results land in PLANS.md.
  */
object IndexCompactProbe {

  private def timeMs(f: => Unit): Long = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1000000
  }

  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val root = new java.io.File(dir)
    if (root.exists()) walk(root) else 0
  }

  def main(args: Array[String]): Unit = {
    val checkpoints = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(32, 128, 256)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val stateDir = java.nio.file.Files.createTempDirectory("graft-idx-probe").toString
    val sink = new BandedIndexSink(spark, stateDir, BandingScheme.image())
    val index = s"$stateDir/chunk_index"
    def images(ids: Seq[Long]) =
      Multimodal.syntheticImages(ids.toDF("doc_id"), "doc_id")
    // seed: group 0's base, so every probe's near-dup half has a
    // historical match to find
    sink.process(images(Seq(0L)), "doc_id", "media", 0L)
    // the probe batch: one near-dup of the seeded base (id 1, group 0
    // variant — dropped each time, so it never enters state) + one
    // fresh-per-probe id from a group no other batch ever uses (kept)
    def probe(batchId: Long, freshId: Long) = {
      val kept = sink.process(images(Seq(1L, freshId)), "doc_id", "media", batchId)
        .collect().map(_.getLong(0)).toSet
      require(kept == Set(freshId), s"probe semantics drifted: $kept")
    }

    println(f"${"batches"}%8s | ${"files"}%6s ${"probe-ms"}%8s | ${"compact-ms"}%10s ${"files'"}%6s ${"probe-ms'"}%9s")
    var done = 0
    checkpoints.foreach { n =>
      while (done < n) {
        // two fresh group BASES per batch (ids 8k+8, 8k+12 -> groups 2k+2,
        // 2k+3, never variants), so every image is kept and state grows
        sink.process(images(Seq(8L * done + 8L, 8L * done + 12L)), "doc_id", "media", done.toLong + 1L)
        done += 1
      }
      val filesBefore = parquetFiles(index)
      val probeBefore = timeMs(probe(1000000L + done, 4000000L + 4L * done + 1L))
      val compactMs = timeMs(sink.compact())
      val filesAfter = parquetFiles(index)
      val probeAfter = timeMs(probe(2000000L + done, 8000000L + 4L * done + 1L))
      println(f"$n%8d | $filesBefore%6d $probeBefore%8d | $compactMs%10d $filesAfter%6d $probeAfter%9d")
    }
    spark.stop()
  }
}
