package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The foreachBatch merge sink maintains a current-state table with
  * latest-wins semantics across micro-batches, and re-merging a batch is a
  * no-op (idempotence under replay). The fold semantics must hold in both
  * MERGE modes (copy-on-write and merge-on-read); the layout properties
  * (bucket-gated rewrite, snapshot isolation, vacuum, compaction) are
  * tested on the state table itself.
  */
class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._
  import StreamOps.KeyedEvent

  private val backends = Seq[(String, UpsertSink.Backend)](
    "catalog-merge" -> UpsertSink.CatalogMerge,
    "catalog-mor" -> UpsertSink.CatalogMergeMor)

  for ((bname, backend) <- backends) {

    test(s"[$bname] streamed upserts fold into the state table; replay is idempotent") {
      implicit val sq = spark.sqlContext
      val dir = Files.createTempDirectory(s"graft-sink-$bname").toString
      val sink = new UpsertSink(spark, dir, Seq("key"), "seq", "op", backend = backend)
      val mem = MemoryStream[KeyedEvent]
      val q = sink.attach(mem.toDS()).outputMode("append").start()

      mem.addData(KeyedEvent("a", 1, "upsert", "v1"),
                  KeyedEvent("b", 2, "upsert", "w1"))
      q.processAllAvailable()
      mem.addData(KeyedEvent("a", 3, "upsert", "v2"),
                  KeyedEvent("b", 4, "delete", null),
                  KeyedEvent("c", 5, "upsert", "x1"))
      q.processAllAvailable()
      q.stop()

      val state = sink.state().orderBy("key").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
      assert(state == List(("a", "v2"), ("c", "x1")))

      // replay the second batch manually — merging the same rows again must
      // leave the state unchanged
      sink.merge(Seq(
        ("a", 3L, "upsert", "v2"), ("b", 4L, "delete", null), ("c", 5L, "upsert", "x1"))
        .toDF("key", "seq", "op", "payload"), batchId = 99L)
      val replayed = sink.state().orderBy("key").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
      assert(replayed == state)
    }

    test(s"[$bname] late cross-batch events: older upserts neither regress state nor resurrect deletes") {
      val dir = Files.createTempDirectory(s"graft-sink-late-$bname").toString
      val sink = new UpsertSink(spark, dir, Seq("key"), "seq", "op", backend = backend)
      sink.merge(Seq(
        ("a", 2L, "upsert", "new"), ("b", 5L, "delete", null))
        .toDF("key", "seq", "op", "payload"), batchId = 0L)
      // batch 2 delivers LATE events: a@seq1 (older than a's seq 2) and
      // b@seq3 (older than b's delete at seq 5)
      sink.merge(Seq(
        ("a", 1L, "upsert", "old"), ("b", 3L, "upsert", "zombie"))
        .toDF("key", "seq", "op", "payload"), batchId = 1L)
      val state = sink.state().orderBy("key").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
      // full-log compaction of the same four events gives exactly this
      assert(state == List(("a", "new")))
      // a late upsert NEWER than the delete revives the key (delete resets)
      sink.merge(Seq(("b", 7L, "upsert", "reborn"))
        .toDF("key", "seq", "op", "payload"), batchId = 2L)
      val revived = sink.state().orderBy("key").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
      assert(revived == List(("a", "new"), ("b", "reborn")))
    }

    test(s"[$bname] replaying an already-published batch keeps a pinned reader's snapshot; the replay is a no-op") {
      val dir = Files.createTempDirectory(s"graft-sink-replay-$bname").toString
      val sink = new UpsertSink(spark, dir, Seq("key"), "seq", "op",
        numBuckets = 1, backend = backend)
      sink.merge(Seq(("a", 1L, "upsert", "v1"))
        .toDF("key", "seq", "op", "payload"), batchId = 0L)
      val b1 = Seq(("a", 2L, "upsert", "v2"), ("b", 3L, "upsert", "w1"))
        .toDF("key", "seq", "op", "payload")
      sink.merge(b1, batchId = 1L)
      // a reader pins the published version's file list now; the process then
      // dies BEFORE the streaming checkpoint records batch 1, so the batch
      // replays with the same id — the replay must not remove or rewrite
      // what the pinned reader is scanning
      val pinned = sink.state()
      sink.merge(b1, batchId = 1L)
      val seen = pinned.orderBy("key").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
      assert(seen == List(("a", "v2"), ("b", "w1")),
        "replay destroyed the snapshot a pinned reader was scanning")
      // and the replay itself is an idempotent no-op on fresh state
      val fresh = sink.state().orderBy("key").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
      assert(fresh == seen)
    }
  }

  test("reserved names: seq/key/op columns and batch columns the state owns are rejected") {
    intercept[IllegalArgumentException] {
      new UpsertSink(spark, Files.createTempDirectory("graft-sink-rsv").toString,
        Seq("key"), "__seq", "op")
    }
    val dir = Files.createTempDirectory("graft-sink-reserved").toString
    val sink = new UpsertSink(spark, dir, Seq("key"), "seq", "op")
    sink.merge(Seq(("a", 1L, "upsert", "v1"))
      .toDF("key", "seq", "op", "payload"), batchId = 0L)
    def files(): List[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(_.getPath).toList.sorted
    }
    val before = files()
    // a batch carrying a state-bookkeeping column is refused before any write
    for (reserved <- Seq("__bucket", "__deleted")) {
      val bad = Seq(("a", 2L, "upsert", "v2", 0)).toDF("key", "seq", "op", "payload", reserved)
      val e = intercept[IllegalArgumentException](sink.merge(bad, batchId = 1L))
      assert(e.getMessage.contains(reserved))
      assert(files() == before, s"a rejected $reserved batch wrote state files")
    }
    assert(sink.state().collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList ==
      List(("a", "v1")))
  }

  test("bounded rewrite: a merge leaves untouched key buckets byte-identical") {
    val dir = Files.createTempDirectory("graft-sink-bounded").toString
    val sink = new UpsertSink(spark, dir, Seq("key"), "seq", "op", numBuckets = 16)
    // single-key merges: the bucket gate keeps each MERGE off the other
    // buckets' dirs, so the state accumulates per-bucket dirs
    (1 to 8).foreach { i =>
      sink.merge(Seq((s"k$i", i.toLong, "upsert", s"v$i"))
        .toDF("key", "seq", "op", "payload"), batchId = i.toLong)
    }
    val log = new graft.connector.TableLog(s"$dir/state",
      spark.sparkContext.hadoopConfiguration)

    def local(d: String) = new java.io.File(new java.net.URI(d).getPath)
    // manifest dir name -> (parquet file name -> md5)
    def snapshot(): Map[String, Map[String, String]] =
      log.currentDirs().map { d =>
        local(d).getName -> Option(local(d).listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).map { f =>
            val md5 = java.security.MessageDigest.getInstance("MD5")
              .digest(java.nio.file.Files.readAllBytes(f.toPath))
            f.getName -> md5.map("%02x".format(_)).mkString
          }.toMap
      }.toMap
    def bucketRange(d: String): (Int, Int) = {
      val r = spark.read.parquet(d).agg(min("__bucket"), max("__bucket")).head()
      (r.getInt(0), r.getInt(1))
    }

    val before = snapshot()
    val ranges = log.currentDirs().map(d => local(d).getName -> bucketRange(d)).toMap
    val k1Bucket = spark.sql("SELECT pmod(hash('k1'), 16)").head().getInt(0)
    val untouched = before.keySet.filter { d =>
      val (lo, hi) = ranges(d)
      k1Bucket < lo || k1Bucket > hi
    }
    assert(untouched.size >= 2,
      s"expected per-bucket dirs to accumulate, got ranges $ranges")
    // single-key merge: only dirs whose bucket range holds k1's may change
    sink.merge(Seq(("k1", 100L, "upsert", "v1b"))
      .toDF("key", "seq", "op", "payload"), batchId = 9L)
    val after = snapshot()
    for (d <- untouched) {
      assert(after.contains(d), s"untouched-bucket dir $d left the manifest")
      assert(after(d) == before(d), s"untouched-bucket dir $d changed bytes")
    }
    // and the merge itself is correct
    val got = sink.state().orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
    assert(got == (1 to 8).map(i => s"k$i" -> (if (i == 1) "v1b" else s"v$i")).toList)
  }

  test("catalog-merge store: state is a queryable SQL table with version history") {
    val dir = Files.createTempDirectory("graft-sink-cat").toString
    val sink = new UpsertSink(spark, dir, Seq("key"), "seq", "op",
      numBuckets = 2, backend = UpsertSink.CatalogMerge)
    sink.merge(Seq(("a", 1L, "upsert", "v1"), ("b", 2L, "upsert", "w1"))
      .toDF("key", "seq", "op", "payload"), batchId = 0L)
    sink.merge(Seq(("b", 3L, "delete", null))
      .toDF("key", "seq", "op", "payload"), batchId = 1L)
    // the state table is plain SQL — any session sharing the conf can query
    // it, including the bookkeeping columns and time travel
    val cat = new CatalogMergeStore(spark, dir, Seq("key")).catalogName
    val live = spark.sql(s"SELECT key, payload FROM $cat.state WHERE NOT __deleted ORDER BY key")
      .collect().map(r => (r.getString(0), r.getString(1))).toList
    assert(live == List(("a", "v1")))
    // version 1 (the CREATE TABLE leaves no manifest; first merge = v1)
    val v1 = spark.sql(s"SELECT key FROM $cat.state VERSION AS OF 1 WHERE NOT __deleted ORDER BY key")
      .collect().map(_.getString(0)).toList
    assert(v1 == List("a", "b"))
    // the delete survives as a fencing tombstone with its seq
    val tomb = spark.sql(s"SELECT __seq FROM $cat.state WHERE key = 'b' AND __deleted")
      .collect().map(_.getLong(0)).toList
    assert(tomb == List(3L))
  }

  test("catalog-merge store: a concurrent reader keeps its pinned snapshot across a merge; vacuum reclaims") {
    val dir = Files.createTempDirectory("graft-sink-cat-iso").toString
    val sink = new UpsertSink(spark, dir, Seq("key"), "seq", "op",
      numBuckets = 2, backend = UpsertSink.CatalogMerge)
    sink.merge(Seq(("a", 1L, "upsert", "v1"), ("b", 2L, "upsert", "w1"))
      .toDF("key", "seq", "op", "payload"), batchId = 0L)
    val reader = sink.state()   // analysis pins the current manifest version
    sink.merge(Seq(("a", 3L, "upsert", "v2"), ("b", 4L, "delete", null))
      .toDF("key", "seq", "op", "payload"), batchId = 1L)
    val pinned = reader.orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
    assert(pinned == List(("a", "v1"), ("b", "w1")))
    val fresh = sink.state().orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
    assert(fresh == List(("a", "v2")))
    // vacuum drops the superseded snapshot, keeps the live one
    new CatalogMergeStore(spark, dir, Seq("key")).vacuum(keepVersions = 1)
    val after = sink.state().orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
    assert(after == fresh)
    val manifests = Option(new java.io.File(s"$dir/state").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("manifest-")).map(_.getName)
    assert(manifests == Seq("manifest-2"))
  }

  test("catalog-merge store: compact folds per-batch dirs; state and late-event fencing intact") {
    val dir = Files.createTempDirectory("graft-sink-cat-compact").toString
    // 16 buckets so per-batch keys land in (mostly) disjoint buckets: the
    // MERGE's __bucket group gate then prunes the other batches' dirs out
    // of each rewrite and per-batch dirs ACCUMULATE bucket-clustered —
    // the layout compact() exists to maintain
    val sink = new UpsertSink(spark, dir, Seq("key"), "seq", "op",
      numBuckets = 16, backend = UpsertSink.CatalogMerge)
    (0 until 5).foreach { i =>
      sink.merge(Seq((s"k$i", 10L + i, "upsert", s"v$i"))
        .toDF("key", "seq", "op", "payload"), batchId = i.toLong)
    }
    val store = new CatalogMergeStore(spark, dir, Seq("key"))
    val log = new graft.connector.TableLog(s"$dir/state",
      spark.sparkContext.hadoopConfiguration)
    val dirsBefore = log.currentDirs().size
    assert(dirsBefore >= 2, s"bucket-pruned merges should accumulate dirs, got $dirsBefore")
    assert(store.compact())
    assert(log.currentDirs().size < dirsBefore)
    val live = sink.state().orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
    assert(live == List("k0" -> "v0", "k1" -> "v1",
      "k2" -> "v2", "k3" -> "v3", "k4" -> "v4"))
    // late-event fencing still works against the compacted layout: an older
    // seq for 'k0' must not regress state
    sink.merge(Seq(("k0", 20L, "upsert", "h0")).toDF("key", "seq", "op", "payload"),
      batchId = 5L)
    sink.merge(Seq(("k0", 19L, "upsert", "stale"), ("k9", 99L, "upsert", "v9"))
      .toDF("key", "seq", "op", "payload"), batchId = 6L)
    val after = sink.state().filter(col("key").isin("k0", "k9")).orderBy("key")
      .collect().map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
    assert(after == List("k0" -> "h0", "k9" -> "v9"))
  }

  test("catalog-mor store: batches append + vector instead of rewriting; compact purges") {
    val dir = Files.createTempDirectory("graft-sink-cat-mor").toString
    val sink = new UpsertSink(spark, dir, Seq("key"), "seq", "op",
      numBuckets = 4, backend = UpsertSink.CatalogMergeMor)
    // batch 0 seeds keys; batches 1..3 overwrite the SAME keys, which under
    // copy-on-write would rewrite the touched dirs each time
    sink.merge(Seq(("a", 0L, "upsert", "a0"), ("b", 0L, "upsert", "b0"))
      .toDF("key", "seq", "op", "payload"), batchId = 0L)
    val log = new graft.connector.TableLog(s"$dir/state",
      spark.sparkContext.hadoopConfiguration)
    val seedDirs = log.currentDirs()
    // update only 'a' each batch: the seed dir keeps 'b' alive, so its
    // shadowed 'a' row must be VECTORED out, not collapse the whole dir
    (1 to 3).foreach { i =>
      sink.merge(Seq(("a", i.toLong, "upsert", s"a$i"))
        .toDF("key", "seq", "op", "payload"), batchId = i.toLong)
    }
    val entries = log.currentEntries()
    // merge-on-read: dirs only ever accumulate (appends + vectors); a
    // fully-shadowed dir may collapse, but nothing is rewritten in place
    assert(entries.exists(_.dv.isDefined),
      "the partially-shadowed seed dir must carry a deletion vector")
    assert(seedDirs.toSet.subsetOf(entries.map(_.dir).toSet),
      "mor merges must keep the partially-live seed dirs")
    val live = sink.state().orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList
    assert(live == List("a" -> "a3", "b" -> "b0"))
    // maintenance: compact purges vectors and folds the per-batch dirs
    val store = new CatalogMergeStore(spark, dir, Seq("key"), mergeOnRead = true)
    assert(store.compact())
    assert(log.currentEntries().forall(_.dv.isEmpty))
    assert(sink.state().orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList ==
      List("a" -> "a3", "b" -> "b0"))
    // fencing after purge: stale seq never regresses
    sink.merge(Seq(("a", 2L, "upsert", "stale")).toDF("key", "seq", "op", "payload"),
      batchId = 4L)
    assert(sink.state().filter(col("key") === "a").collect()
      .head.getAs[String]("payload") == "a3")
  }

  test("catalog-mor backend pointed at an existing cow state table aligns its mode") {
    val dir = Files.createTempDirectory("graft-sink-mode-flip").toString
    // seed the table through the copy-on-write backend
    val cow = new UpsertSink(spark, dir, Seq("key"), "seq", "op",
      numBuckets = 4, backend = UpsertSink.CatalogMerge)
    cow.merge(Seq(("a", 1L, "upsert", "v1"), ("b", 1L, "upsert", "w1"))
      .toDF("key", "seq", "op", "payload"), batchId = 0L)
    val log = new graft.connector.TableLog(s"$dir/state",
      spark.sparkContext.hadoopConfiguration)
    assert(log.properties.get("graft.merge.mode").isEmpty)
    // switching the backend must flip the table property, not silently
    // keep rewriting (review finding: the property was CREATE-only)
    val mor = new UpsertSink(spark, dir, Seq("key"), "seq", "op",
      numBuckets = 4, backend = UpsertSink.CatalogMergeMor)
    val seedDirs = log.currentDirs()
    mor.merge(Seq(("a", 2L, "upsert", "v2")).toDF("key", "seq", "op", "payload"),
      batchId = 1L)
    val fresh = new graft.connector.TableLog(s"$dir/state",
      spark.sparkContext.hadoopConfiguration)
    assert(fresh.properties.get("graft.merge.mode").contains("merge-on-read"))
    assert(seedDirs.toSet.subsetOf(fresh.currentEntries().map(_.dir).toSet),
      "the mor batch must keep the seed dirs (vector, not rewrite)")
    assert(mor.state().orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("payload"))).toList ==
      List("a" -> "v2", "b" -> "w1"))
  }
}
