package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events loader must produce identical TimestampType rows for every
  * physical layout the fixture has shipped in (reference data model:
  * stream_blocks timestamps): legacy parquet int64-nanos read via the
  * nanosAsLong flag, native timestamp (isAdjustedToUTC=true), and
  * TIMESTAMP_NTZ (isAdjustedToUTC=false — what the 2026-08-13 regenerated
  * testdata loads as). Round-6 lesson: an unconditional layout assumption
  * broke 21 queries at analysis when the fixture changed.
  */
class TablesSpec extends SparkSpec {

  private def writeAndLoad(writer: String => Unit): org.apache.spark.sql.DataFrame = {
    val dir = Files.createTempDirectory("graft-tables-spec").toFile
    dir.deleteOnExit()
    writer(dir.getAbsolutePath)
    Tables.events(spark, dir.getAbsolutePath)
  }

  // one µs-precision instant, away from any DST/epoch edge
  private val micros = 1700000000123456L

  test("real fixture: events.ts loads as TimestampType at every SF") {
    for (d <- Seq("sf0.001", "sf0.01")) {
      val df = Tables.events(spark, sf(d))
      assert(df.schema("ts").dataType == TimestampType,
        s"$d: expected TimestampType, got ${df.schema("ts").dataType}")
      assert(df.limit(1).count() == 1)
    }
  }

  test("legacy int64-nanos layout converts losslessly to microseconds") {
    import spark.implicits._
    val df = writeAndLoad { path =>
      Seq((1L, micros * 1000L)).toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$path/events.parquet")
    }
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(unix_micros(col("ts"))).as[Long].head()
    assert(got == micros, s"expected $micros, got $got")
  }

  test("native TimestampType layout passes through unchanged") {
    import spark.implicits._
    val df = writeAndLoad { path =>
      Seq((1L, micros)).toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
        .write.mode("overwrite").parquet(s"$path/events.parquet")
    }
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(unix_micros(col("ts"))).as[Long].head()
    assert(got == micros, s"expected $micros, got $got")
  }

  test("unknown ts layout fails loudly at load instead of null-casting") {
    import spark.implicits._
    val e = intercept[IllegalStateException] {
      writeAndLoad { path =>
        Seq((1L, "2026-08-13T00:00:00Z")).toDF("event_id", "ts")
          .write.mode("overwrite").parquet(s"$path/events.parquet")
      }
    }
    assert(e.getMessage.contains("unexpected events.ts type"))
  }

  test("TIMESTAMP_NTZ layout normalizes to TimestampType with equal micros") {
    import spark.implicits._
    val df = writeAndLoad { path =>
      Seq((1L, micros)).toDF("event_id", "us")
        .select(col("event_id"),
          timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
        .write.mode("overwrite").parquet(s"$path/events.parquet")
    }
    assert(df.schema("ts").dataType == TimestampType)
    // UTC session: the NTZ->LTZ normalization is value-identity on micros
    val got = df.select(unix_micros(col("ts"))).as[Long].head()
    assert(got == micros, s"expected $micros, got $got")
  }

  test("schema memo: load() == bare spark.read.parquet, per path") {
    // the memoized loader must resolve the same schema and rows as a bare
    // inferring read for every fixture table, and repeated loads must stay
    // stable (the memo serves file METADATA only — data is re-read)
    val dir = sf("sf0.001")
    for (name <- Tables.all) {
      val memo = Tables.load(spark, dir, name)
      val bare = spark.read.parquet(s"$dir/$name.parquet")
      assert(memo.schema == bare.schema, s"$name: schema drift through memo")
      assert(memo.count() == bare.count(), s"$name: row drift through memo")
      assert(Tables.load(spark, dir, name).count() == bare.count())
    }
    // the memo is keyed by PATH: same table name under two dirs with
    // different schemas resolves each dir's own schema
    import spark.implicits._
    val d1 = Files.createTempDirectory("memo-a").toFile
    val d2 = Files.createTempDirectory("memo-b").toFile
    d1.deleteOnExit(); d2.deleteOnExit()
    Seq((1L, "x")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"${d1.getAbsolutePath}/part.parquet")
    Seq((1L, 2.5)).toDF("k", "w")
      .write.mode("overwrite").parquet(s"${d2.getAbsolutePath}/part.parquet")
    assert(Tables.load(spark, d1.getAbsolutePath, "part").schema.fieldNames.toList
      == List("k", "v"))
    assert(Tables.load(spark, d2.getAbsolutePath, "part").schema.fieldNames.toList
      == List("k", "w"))
  }

  test("schema memo: a same-mtime rewrite with a new schema and length re-infers") {
    // the memo key is (mtime, length): a rewrite that lands within the
    // filesystem's mtime granularity (or restores the old mtime) must still
    // resolve the new file's schema
    import spark.implicits._
    val d = Files.createTempDirectory("memo-mtime").toFile
    d.deleteOnExit()
    val target = new java.io.File(d, "part.parquet")
    def writeSingleFile(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = Files.createTempDirectory("memo-mtime-w").toFile
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeSingleFile(Seq((1L, "x")).toDF("k", "v"))
    val (mtime, length) = (target.lastModified(), target.length())
    assert(Tables.load(spark, d.getAbsolutePath, "part").schema.fieldNames.toList
      == List("k", "v"))
    writeSingleFile(Seq((1L, 2.5, "y", 7)).toDF("k", "w", "z", "n"))
    assert(target.setLastModified(mtime))
    assert(target.lastModified() == mtime && target.length() != length)
    val reloaded = Tables.load(spark, d.getAbsolutePath, "part")
    assert(reloaded.schema.fieldNames.toList == List("k", "w", "z", "n"))
    assert(reloaded.as[(Long, Double, String, Int)].collect().toList == List((1L, 2.5, "y", 7)))
  }
}
