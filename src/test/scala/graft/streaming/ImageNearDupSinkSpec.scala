package graft.streaming

import java.nio.file.Files

import graft.ops.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental dHash image dedup (round-17 verdict item 3's streaming
  * face): the image row of the banded-sink contracts (cross-batch near-dup
  * images drop against the append-only chunk index, first-wins holds,
  * replay is idempotent), plus the stream-kept set equals the batch
  * first-wins fold over the same corpus.
  */
class ImageNearDupSinkSpec
    extends BandedSinkContracts("image near-dups", "images",
      "non-decodable payloads") {
  import spark.implicits._

  /** doc_ids 0..3 are one planted near-dup group, 4..7 the next, etc. */
  private def images(ids: Seq[Long]): DataFrame =
    Multimodal.syntheticImages(ids.toDF("doc_id"), "doc_id")

  protected def contract: SinkContract = SinkContract(
    BandingScheme.image(), "doc_id", "media",
    // batch 0: 0 and 1 are variants of one pattern (intra-batch, smaller id
    // wins); 40 is an unrelated group. batch 1: 2 is another variant of
    // kept image 0 (historical dup); 80 is a fresh group
    cross = Seq(images(Seq(0L, 1L, 40L)) -> Set(0L, 40L),
      images(Seq(2L, 80L)) -> Set(80L)),
    keyed = images(Seq(0L)),
    keyless = Seq((99L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "media"),
    // 1 is a historical dup of 0
    replay = (images(Seq(0L)), images(Seq(1L, 80L)), Set(80L)))

  private def sinkAt(dir: String) = new BandedIndexSink(spark, dir, BandingScheme.image())

  test("stream-kept equals the batch fold with the sink's semantics (arrival = id order)") {
    val ids = (0L until 48L)
    val dir = Files.createTempDirectory("graft-imgdup-eq").toString
    val sink = sinkAt(dir)
    val batches = ids.grouped(12).toSeq
    val streamKept = batches.zipWithIndex.flatMap { case (chunk, bi) =>
      sink.process(images(chunk), "doc_id", "media", batchId = bi.toLong)
        .collect().map(_.getLong(0))
    }.toSet

    // reference fold with the SINK'S documented semantics: a doc drops
    // when it pairs with an earlier-batch KEPT doc, or when it is the
    // larger id of ANY pair inside its own batch (kept or not — the
    // keep-one-per-pair-chain convention). Pairs are exact (total recall
    // at maxHamming <= numChunks - 1).
    val pairs = Multimodal.imageNearDupPairs(spark, images(ids))
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val smallerPeers: Map[Long, Set[Long]] =
      pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).toSet }
    var kept = Set.empty[Long]
    batches.foreach { batch =>
      val inBatch = batch.toSet
      val dropped = batch.filter { id =>
        val peers = smallerPeers.getOrElse(id, Set.empty)
        peers.exists(kept.contains) || peers.exists(inBatch.contains)
      }.toSet
      kept ++= (inBatch -- dropped)
    }
    assert(streamKept === kept)

    // per-doc arrival (batch size 1) reduces to the ideal greedy fold:
    // only kept docs can veto
    val dir1 = Files.createTempDirectory("graft-imgdup-eq1").toString
    val sink1 = sinkAt(dir1)
    val oneByOne = ids.zipWithIndex.flatMap { case (id, bi) =>
      sink1.process(images(Seq(id)), "doc_id", "media", batchId = bi.toLong)
        .collect().map(_.getLong(0))
    }.toSet
    val ideal = ids.foldLeft(Set.empty[Long]) { (k, id) =>
      if (smallerPeers.getOrElse(id, Set.empty).exists(k.contains)) k else k + id
    }
    assert(oneByOne === ideal)
  }

  test("an all-undecodable first batch does not poison the chunk index") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-imgdup-nohash").toString
    val sink = sinkAt(dir)
    val rawOnly = Seq((1L, "jpeg-ish".getBytes("UTF-8")),
      (2L, "png-ish".getBytes("UTF-8"))).toDF("doc_id", "media")
    assert(sink.process(rawOnly, "doc_id", "media", batchId = 0L)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // the zero-row append must not make the NEXT batch read a schema-less
    // parquet dir (the _SUCCESS-only state trap)
    val kept1 = sink.process(images(Seq(0L, 1L)), "doc_id", "media", batchId = 1L)
      .collect().map(_.getLong(0)).toSet
    assert(kept1 === Set(0L))
  }

  test("planted variants sit within hamming 2 of base; other groups far") {
    val hs = Multimodal.dHash64(spark, images(Seq(0L, 1L, 2L, 3L, 4L, 400L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 3L).foreach { v =>
      val d = java.lang.Long.bitCount(hs(0L) ^ hs(v))
      assert(d <= 2, s"variant $v at hamming $d from base")
    }
    assert(java.lang.Long.bitCount(hs(0L) ^ hs(4L)) > 3,
      "adjacent group must not read as a near-dup")
    assert(java.lang.Long.bitCount(hs(0L) ^ hs(400L)) > 3)
  }
}
