package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.ops.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Amortized compaction for the append-only index sinks (round-17 verdict
  * item 2): folding per-batch file sets must change the FILE layout only —
  * probe results, the `__batch < batchId` replay fence, and search results
  * are identical before and after; a compact that died between its two
  * publish renames is healed by the next one.
  */
class IndexCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def images(ids: Seq[Long]): DataFrame =
    Multimodal.syntheticImages(ids.toDF("doc_id"), "doc_id")

  private def image(dir: String, autoCompactEvery: Int = 0) =
    new BandedIndexSink(spark, dir, BandingScheme.image(), autoCompactEvery = autoCompactEvery)

  private def sq8(dir: String, autoCompactEvery: Int = 0) =
    new VectorIndexSink(spark, dir, VectorCodec.Sq8, autoCompactEvery)

  private def parquetFiles(dir: String): Int = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    if (root.exists()) walk(root) else 0
  }

  test("image sink: compaction midway changes nothing but the file count") {
    val dirA = Files.createTempDirectory("graft-cmp-a").toString
    val dirB = Files.createTempDirectory("graft-cmp-b").toString
    val a = image(dirA)   // compacted midway
    val b = image(dirB)   // never compacted
    // 8 batches: fresh group bases, planted variants, repeats
    val batches = Seq(
      Seq(0L, 40L), Seq(1L, 80L), Seq(41L, 120L), Seq(2L, 160L),
      Seq(81L, 200L), Seq(3L, 42L), Seq(121L, 161L), Seq(201L, 240L))
    batches.zipWithIndex.foreach { case (ids, i) =>
      val ka = a.process(images(ids), "doc_id", "media", i.toLong).collect().map(_.getLong(0)).toSet
      val kb = b.process(images(ids), "doc_id", "media", i.toLong).collect().map(_.getLong(0)).toSet
      assert(ka === kb, s"batch $i diverged before any compaction effect")
      if (i == 3) {
        val before = parquetFiles(s"$dirA/chunk_index")
        a.compact()
        val after = parquetFiles(s"$dirA/chunk_index")
        assert(after < before,
          s"compaction must shrink the file count ($before -> $after)")
        // every row (incl. __batch) survives the fold
        val rowsA = spark.read.parquet(s"$dirA/chunk_index")
          .collect().map(_.toSeq).toSet
        val rowsB = spark.read.parquet(s"$dirB/chunk_index")
          .collect().map(_.toSeq).toSet
        assert(rowsA === rowsB)
      }
    }
    // final states agree row-for-row
    val rowsA = spark.read.parquet(s"$dirA/chunk_index").collect().map(_.toSeq).toSet
    val rowsB = spark.read.parquet(s"$dirB/chunk_index").collect().map(_.toSeq).toSet
    assert(rowsA === rowsB)
  }

  test("image sink: the replay fence survives compaction") {
    val dir = Files.createTempDirectory("graft-cmp-replay").toString
    val sink = image(dir)
    val kept0 = sink.process(images(Seq(0L, 1L)), "doc_id", "media", 0L).collect().map(_.getLong(0)).toSet
    val kept1 = sink.process(images(Seq(2L, 80L)), "doc_id", "media", 1L).collect().map(_.getLong(0)).toSet
    sink.compact()
    // replaying batch 1 after compaction must reproduce its kept set: the
    // compacted rows still carry __batch, so the probe sees only batch 0
    val replay = sink.process(images(Seq(2L, 80L)), "doc_id", "media", 1L).collect().map(_.getLong(0)).toSet
    assert(replay === kept1, s"replay diverged post-compaction: $replay vs $kept1")
    assert(kept0 === Set(0L))
  }

  test("int8 sink: topK identical across compaction; crashed swap heals") {
    val corpus = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 90)
    val dir = Files.createTempDirectory("graft-cmp-sq8").toString
    val sink = sq8(dir)
    (0 until 3).foreach { i =>
      sink.process(
        corpus.filter(col("vec_id") >= i * 30L && col("vec_id") < (i + 1) * 30L)
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", i.toLong)
    }
    def page() = sink.topK(Seq(0L, 50L), k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toList
    val before = page()
    val filesBefore = parquetFiles(s"$dir/sq8_index")
    sink.compact(targetFiles = 1)
    assert(parquetFiles(s"$dir/sq8_index") < filesBefore)
    assert(page() === before, "search results changed across compaction")

    // simulate a compact that died between its two renames: live data
    // sits under __compact_old, the index dir is gone
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/sq8_index")
    val old = new org.apache.hadoop.fs.Path(s"$dir/sq8_index__compact_old")
    assert(fs.rename(p, old))
    sink.compact(targetFiles = 1)   // recovery + re-compact
    assert(page() === before, "recovery lost rows")
  }

  test("autoCompactEvery folds the index in-stream with identical results") {
    val dirA = Files.createTempDirectory("graft-auto-a").toString
    val dirB = Files.createTempDirectory("graft-auto-b").toString
    val a = image(dirA, autoCompactEvery = 2)
    val b = image(dirB)
    val batches = Seq(
      Seq(0L, 40L), Seq(1L, 80L), Seq(41L, 120L), Seq(2L, 160L),
      Seq(81L, 200L), Seq(3L, 42L))
    batches.zipWithIndex.foreach { case (ids, i) =>
      val ka = a.process(images(ids), "doc_id", "media", i.toLong).collect().map(_.getLong(0)).toSet
      val kb = b.process(images(ids), "doc_id", "media", i.toLong).collect().map(_.getLong(0)).toSet
      assert(ka === kb, s"batch $i diverged under auto-compaction")
    }
    assert(parquetFiles(s"$dirA/chunk_index") < parquetFiles(s"$dirB/chunk_index"),
      "auto-compaction must keep the file count below the append-only twin")
    val rowsA = spark.read.parquet(s"$dirA/chunk_index").collect().map(_.toSeq).toSet
    val rowsB = spark.read.parquet(s"$dirB/chunk_index").collect().map(_.toSeq).toSet
    assert(rowsA === rowsB)
  }

  test("autoCompactEvery parity: text, PQ, and SQ8 sinks fold in-stream too") {
    // every append-only index sink carries the same opt-in — a long-running
    // stream on ANY of them caps its own file count, with results identical
    // to an append-only twin (round-18 verdict item 5)
    import graft.ops.Similarity

    // text near-dup: kept sets and final index rows identical
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def text(seed: Int): String =
      (0 until 30).map(i => words((seed * 7 + i * 3) % words.size)).mkString(" ")
    val (tA, tB) = (Files.createTempDirectory("graft-auto-ta").toString,
      Files.createTempDirectory("graft-auto-tb").toString)
    val sa = new BandedIndexSink(spark, tA, BandingScheme.MinHash(threshold = 0.9),
      autoCompactEvery = 2)
    val sb = new BandedIndexSink(spark, tB, BandingScheme.MinHash(threshold = 0.9))
    val textBatches = Seq(
      Seq((1L, text(1)), (2L, text(2))), Seq((3L, text(1)), (4L, text(3))),
      Seq((5L, text(2)), (6L, text(4))), Seq((7L, text(5)), (8L, text(4))))
    textBatches.zipWithIndex.foreach { case (rows, i) =>
      val ka = sa.process(rows.toDF("id", "text"), "id", "text", i.toLong)
        .collect().map(_.getLong(0)).toSet
      val kb = sb.process(rows.toDF("id", "text"), "id", "text", i.toLong)
        .collect().map(_.getLong(0)).toSet
      assert(ka === kb, s"text batch $i diverged under auto-compaction")
    }
    assert(parquetFiles(s"$tA/band_index") < parquetFiles(s"$tB/band_index"))
    assert(spark.read.parquet(s"$tA/band_index").collect().map(_.toSeq).toSet ===
      spark.read.parquet(s"$tB/band_index").collect().map(_.toSeq).toSet)

    // PQ + SQ8 code tables: search results identical, fewer files (the
    // model trains on the full reference corpus — pqTrain strides it and
    // needs enough rows — then encodes the streamed slices)
    val full = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = full.filter(col("vec_id") < 90)
    val model = Similarity.pqTrain(full, "vec_id", "embedding")
    val (pA, pB) = (Files.createTempDirectory("graft-auto-pa").toString,
      Files.createTempDirectory("graft-auto-pb").toString)
    val annA = new VectorIndexSink(spark, pA, VectorCodec.Pq(model), autoCompactEvery = 2)
    val annB = new VectorIndexSink(spark, pB, VectorCodec.Pq(model))
    val (qA, qB) = (Files.createTempDirectory("graft-auto-qa").toString,
      Files.createTempDirectory("graft-auto-qb").toString)
    val sqA = sq8(qA, autoCompactEvery = 2)
    val sqB = sq8(qB)
    // 6 batches so the append-only twin necessarily exceeds the compacted
    // sink's 4-file target even at one file per append
    (0 until 6).foreach { i =>
      val slice = corpus
        .filter(col("vec_id") >= i * 15L && col("vec_id") < (i + 1) * 15L)
        .select(col("vec_id"), col("embedding"))
      Seq(annA, annB).foreach(_.process(slice, "vec_id", "embedding", i.toLong))
      Seq(sqA, sqB).foreach(_.process(slice, "vec_id", "embedding", i.toLong))
    }
    def page(df: DataFrame) = df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toList
    assert(page(annA.topK(Seq(0L, 50L), 5)) === page(annB.topK(Seq(0L, 50L), 5)))
    assert(page(sqA.topK(Seq(0L, 50L), 5)) === page(sqB.topK(Seq(0L, 50L), 5)))
    assert(parquetFiles(s"$pA/pq_index") < parquetFiles(s"$pB/pq_index"))
    assert(parquetFiles(s"$qA/sq8_index") < parquetFiles(s"$qB/sq8_index"))
  }

  test("crash between renames followed by appends loses nothing") {
    // the round-18 review finding: a crashed swap leaves the live index
    // aside; if something then writes a FRESH index dir before the next
    // compact, compaction must merge the aside data back, never delete it
    val corpus = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 60)
    val dir = Files.createTempDirectory("graft-cmp-crash2").toString
    val sink = sq8(dir)
    sink.process(corpus.filter(col("vec_id") < 30)
      .select(col("vec_id"), col("embedding")), "vec_id", "embedding", 0L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/sq8_index")
    val old = new org.apache.hadoop.fs.Path(s"$dir/sq8_index__compact_old")

    // (a) the sink's own append HEALS first (IndexDirs.heal in process):
    assert(fs.rename(p, old))
    sink.process(corpus.filter(col("vec_id") >= 30 && col("vec_id") < 45)
      .select(col("vec_id"), col("embedding")), "vec_id", "embedding", 1L)
    assert(!fs.exists(old), "process() must heal the crashed swap before appending")
    assert(sink.index().count() === 45L)

    // (b) an append that BYPASSED heal (external writer): compaction
    // merges the aside files back instead of deleting them. Fresh rows
    // come from a sibling sink so the parquet schema is byte-identical.
    assert(fs.rename(p, old))
    val dir2 = Files.createTempDirectory("graft-cmp-crash2b").toString
    val sink2 = sq8(dir2)
    sink2.process(corpus.filter(col("vec_id") >= 45)
      .select(col("vec_id"), col("embedding")), "vec_id", "embedding", 2L)
    fs.mkdirs(p)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir2/sq8_index"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .foreach(st => assert(fs.rename(st.getPath,
        new org.apache.hadoop.fs.Path(p, st.getPath.getName))))
    sink.compact(targetFiles = 1)
    assert(!fs.exists(old), "merge must consume the aside dir")
    assert(sink.index().count() === 60L,
      "compaction deleted the aside live data instead of merging it back")
  }
}
