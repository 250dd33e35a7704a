package graft.streaming

import graft.SparkSpec
import graft.ops.{Decontaminate, Dedup, Similarity}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Top-level for encoder codegen. */
case class Doc(doc_id: Long, text: String)

/** Top-level for encoder codegen. */
case class EmbRow(vec_id: Long, embedding: Seq[Float])

/** The curation gates are per-document given a static reference, so applying
  * them inside foreachBatch must reproduce the batch run over the same docs
  * regardless of how ingestion is micro-batched — the property that lets a
  * pipeline run identically in backfill (batch) and ingest (stream) mode.
  */
class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    Doc(1L, "alpha beta gamma delta epsilon zeta"),
    Doc(2L, "secret bench phrase one alpha beta gamma delta"),
    Doc(3L, "totally novel words nothing shared here"),
    Doc(4L, "secret bench phrase one and more text"),
    Doc(5L, "alpha beta gamma delta epsilon zeta"))   // dup of 1
  private val reference = Seq(
    Doc(100L, "secret bench phrase one")).toDF("doc_id", "text")

  test("streamed span decontamination == batch run, any micro-batching") {
    val batch = Dedup.spanDedupAgainst(
        docs.toDF("doc_id", "text"), reference, "doc_id", "text", w = 2)
      .orderBy("doc_id").collect().toSeq

    val input = MemoryStream[Doc](spark)
    val collected = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = input.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        collected ++= Dedup.spanDedupAgainst(df, reference, "doc_id", "text", w = 2)
          .collect()
        ()
      }
      .start()
    input.addData(docs.take(2)); q.processAllAvailable()
    input.addData(docs.drop(2)); q.processAllAvailable()
    q.stop()
    assert(collected.sortBy(_.getLong(0)) == batch,
      s"stream ${collected.toList} vs batch ${batch.toList}")
  }

  test("streamed fuzzy (near-dup) decontamination == batch run, any micro-batching") {
    val batch = Dedup.minhashDedupAgainst(
        docs.toDF("doc_id", "text"), reference, "doc_id", "text", threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet

    val input = MemoryStream[Doc](spark)
    val collected = scala.collection.mutable.Set.empty[Long]
    val q = input.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        collected ++= Dedup.minhashDedupAgainst(df, reference, "doc_id", "text", threshold = 0.4)
          .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
        ()
      }
      .start()
    docs.grouped(2).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    assert(collected.toSet == batch)
  }

  test("streamed whole-doc decontamination == batch run, any micro-batching") {
    val batch = Decontaminate.removeContaminated(
        docs.toDF("doc_id", "text"), reference, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet

    val input = MemoryStream[Doc](spark)
    val collected = scala.collection.mutable.Set.empty[Long]
    val q = input.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        collected ++= Decontaminate.removeContaminated(df, reference, "doc_id", "text", n = 3)
          .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
        ()
      }
      .start()
    docs.grouped(2).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    assert(collected.toSet == batch)
  }

  test("streamed DSIR scoring (frozen table) == batch run, any micro-batching") {
    import graft.ops.Sampling
    val raw = docs.toDF("doc_id", "text")
    val batch = Sampling.dsirLogWeights(raw, reference, "doc_id", "text", buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

    // the model (per-bucket log-ratio table) is trained once on the same
    // reference snapshot and frozen — streamed scoring applies it verbatim
    val table = Sampling.dsirTable(raw, reference, "doc_id", "text", buckets = 64)
    val input = MemoryStream[Doc](spark)
    val collected = scala.collection.mutable.Set.empty[(Long, Long, Long, Boolean)]
    val q = input.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        collected ++= Sampling.dsirScore(df, "doc_id", "text", table)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        ()
      }
      .start()
    docs.grouped(2).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    assert(collected.toSet == batch, s"stream $collected vs batch $batch")
  }

  test("streamed bigram-LM scoring (frozen table) == batch run, any micro-batching") {
    import graft.ops.Sampling
    val raw = docs.toDF("doc_id", "text")
    // the model (buckets^2 conditional log-prob table) is trained once on
    // the reference snapshot and frozen — per-doc scores are exact long
    // sums of a stateless fold, so any micro-batching reproduces the batch
    val table = Sampling.bigramLmTable(reference, "doc_id", "text", buckets = 64)
    val batch = Sampling.bigramLmScore(raw, "doc_id", "text", table)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

    val input = MemoryStream[Doc](spark)
    val collected = scala.collection.mutable.Set.empty[(Long, Long, Long, Boolean)]
    val q = input.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        collected ++= Sampling.bigramLmScore(df, "doc_id", "text", table)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        ()
      }
      .start()
    docs.grouped(2).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    assert(collected.toSet == batch, s"stream $collected vs batch $batch")
  }

  test("streamed perceptron scoring (frozen weights) == batch run, any micro-batching") {
    import graft.ops.Sampling
    val raw = docs.toDF("doc_id", "text")
    // train target-vs-rest once against the reference snapshot, freeze
    val weights = Sampling.perceptronTrain(
      raw.withColumn("pos", col("doc_id") <= 2L).union(
        reference.withColumn("pos", lit(true))),
      "doc_id", "text", positive = col("pos"), buckets = 64, epochs = 3)
    val batch = Sampling.perceptronScore(raw, "doc_id", "text", weights)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

    val input = MemoryStream[Doc](spark)
    val collected = scala.collection.mutable.Set.empty[(Long, Long, Long, Boolean)]
    val q = input.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        collected ++= Sampling.perceptronScore(df, "doc_id", "text", weights)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        ()
      }
      .start()
    docs.grouped(2).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()
    assert(collected.toSet == batch, s"stream $collected vs batch $batch")
  }

  test("streamed PQ-ANN index (frozen codebook) == batch pqTopK, any micro-batching") {
    val corpus = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 120)
    val queryIds = Seq(0L, 50L)
    def page(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toList
    val batch = page(Similarity.pqTopK(
      corpus, "vec_id", "embedding", queryIds, k = 5))

    // the model is trained once on the same reference corpus and frozen —
    // the streamed index must encode every later batch with it verbatim
    val model = Similarity.pqTrain(corpus, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString
    val sink = new VectorIndexSink(spark, dir, VectorCodec.Pq(model))
    val rows = corpus.select("vec_id", "embedding")
      .as[EmbRow].collect().toSeq
    val input = MemoryStream[EmbRow](spark)
    val q = sink.attach(input.toDS(), "vec_id", "embedding")
      .outputMode("append").start()
    rows.grouped(40).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()

    val streamed = page(sink.topK(queryIds, k = 5))
    assert(streamed == batch, s"stream $streamed vs batch $batch")

    // replay: re-processing an already-indexed chunk must not change results
    sink.process(rows.take(40).toDF(), "vec_id", "embedding", batchId = 999L)
    assert(page(sink.topK(queryIds, k = 5)) == batch)
  }

  test("streamed SQ8 int8 index == batch int8TopK, any micro-batching") {
    val corpus = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 120)
    val queryIds = Seq(0L, 50L)
    def page(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toList
    val batch = page(Similarity.int8TopK(
      corpus, "vec_id", "embedding", queryIds, k = 5))

    // no model to freeze: the per-vector scale makes every batch encode
    // independently, so the index accumulates by pure appends
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8").toString
    val sink = new VectorIndexSink(spark, dir, VectorCodec.Sq8)
    val rows = corpus.select("vec_id", "embedding")
      .as[EmbRow].collect().toSeq
    val input = MemoryStream[EmbRow](spark)
    val q = sink.attach(input.toDS(), "vec_id", "embedding")
      .outputMode("append").start()
    rows.grouped(40).foreach { g => input.addData(g); q.processAllAvailable() }
    q.stop()

    val streamed = page(sink.topK(queryIds, k = 5))
    assert(streamed == batch, s"stream $streamed vs batch $batch")

    // replay idempotence, same as the PQ sink
    sink.process(rows.take(40).toDF(), "vec_id", "embedding", batchId = 999L)
    assert(page(sink.topK(queryIds, k = 5)) == batch)
  }
}
