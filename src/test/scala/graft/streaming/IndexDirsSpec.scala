package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.ops.Multimodal

/** State-probe semantics for the append-only index sinks: only actual
  * parquet data counts — `_SUCCESS`-only (zero-row append) and
  * `_temporary`-only (crashed append) leftovers must read as "no state",
  * while `__bucket=N` partition dirs (underscore-prefixed but `=`-bearing,
  * Spark's own hidden-path carve-out) must count.
  */
class IndexDirsSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-idxdirs").toString

  test("hidden leftovers are not state; partition dirs and parquet files are") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)

    val missing = tmp() + "/never_written"
    assert(!IndexDirs.hasData(spark, missing))

    val successOnly = tmp()
    fs.create(path(s"$successOnly/_SUCCESS"), true).close()
    assert(!IndexDirs.hasData(spark, successOnly), "_SUCCESS-only dir")

    val tempOnly = tmp()
    fs.mkdirs(path(s"$tempOnly/_temporary/0"))
    assert(!IndexDirs.hasData(spark, tempOnly), "_temporary-only dir")

    val partitioned = tmp()
    fs.mkdirs(path(s"$partitioned/_temporary"))
    fs.mkdirs(path(s"$partitioned/__bucket=3"))
    assert(IndexDirs.hasData(spark, partitioned),
      "__bucket=N partition dirs are data even though underscore-prefixed")

    val flatFile = tmp()
    fs.create(path(s"$flatFile/part-00000.parquet"), true).close()
    assert(IndexDirs.hasData(spark, flatFile), "a bare .parquet file")
  }

  test("a crashed first append's _temporary leftover does not kill the next image batch") {
    val stateDir = tmp()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // simulate a first append that died before any task committed
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$stateDir/chunk_index/_temporary/0"))

    val sink = new BandedIndexSink(spark, stateDir, BandingScheme.image())
    import spark.implicits._
    def imgs(ids: Seq[Long]) =
      Multimodal.syntheticImages(ids.toDF("doc_id"), "doc_id")

    // batch 0 must see "no state" (not a schema-less read) and keep the
    // group bases; batch 1 then probes real state
    val kept0 = sink.process(imgs(Seq(0L, 1L)), "doc_id", "media", 0L)
      .collect().map(_.getLong(0)).toSet
    assert(kept0 === Set(0L), s"variant 1 near-dups its base: $kept0")
    val kept1 = sink.process(imgs(Seq(2L, 40L)), "doc_id", "media", 1L)
      .collect().map(_.getLong(0)).toSet
    assert(kept1 === Set(40L), s"doc 2 dups doc 0's group, 40 is fresh: $kept1")
  }
}
