package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** How a [[VectorIndexSink]] encodes and searches: the code table it
  * appends, the search over it, and its dir name. Encode and search are
  * the batch operators' own, so stream-fed and batch-built indexes return
  * identical results.
  */
sealed abstract class VectorCodec extends Serializable {
  /** Index dir under the sink's state dir. */
  def dirName: String
  /** `(id, vec, codes, ...)` rows of one batch of embeddings. */
  def encode(batch: DataFrame, idCol: String, vecCol: String): DataFrame
  /** Top-k over a materialized index snapshot; query ids must be indexed. */
  def search(idx: DataFrame, queryIds: Seq[Long], k: Int, shortlist: Int): DataFrame
}

object VectorCodec {

  /** Product quantization with a codebook trained ONCE on a reference
    * corpus and frozen — the streaming face of `Similarity.pqTopK`. Every
    * batch encodes with the frozen model verbatim (a few KB in the task
    * closure, like the IVF codebook); search is `Similarity.pqSearch`'s
    * ADC shortlist + exact re-rank. Codebook drift under distribution shift
    * is the operator's retrain-and-rebuild decision, exactly as for a
    * production IVF/PQ index.
    */
  final case class Pq(model: Similarity.PqModel) extends VectorCodec {
    val dirName = "pq_index"
    def encode(batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
      val spark = batch.sparkSession
      import spark.implicits._
      val m = model
      batch.select(col(idCol).cast("long").as("id"),
          transform(col(vecCol), x => x.cast("double")).as("vec"))
        .as[(Long, Seq[Double])]
        .mapPartitions(_.map { case (id, raw) => (id, raw, m.encode(raw).toSeq) })
        .toDF("id", "vec", "codes")
    }
    def search(idx: DataFrame, queryIds: Seq[Long], k: Int, shortlist: Int): DataFrame = {
      val spark = idx.sparkSession
      import spark.implicits._
      val qPage: Array[(Long, Seq[Double])] = idx
        .filter(col("id").isin(queryIds: _*))
        .select(col("id"), col("vec"))
        .as[(Long, Seq[Double])].collect()
      require(qPage.length == queryIds.distinct.length,
        s"only ${qPage.length} of ${queryIds.distinct.length} query ids are indexed: " +
          s"missing ${queryIds.distinct.filterNot(qPage.map(_._1).toSet).mkString(",")}")
      Similarity.pqSearch(
        idx.select(col("id"), col("codes")),
        idx.select(col("id").as("vid"), col("vec").as("v")),
        qPage, k, shortlist, model)
    }
  }

  /** SQ8 (int8 scalar quantization) — the streaming face of
    * `Similarity.int8TopK`. There is NO trained model to freeze: the
    * per-vector symmetric scale is a pure function of each vector, so every
    * batch encodes independently. The encoder carries the source vector
    * through (`keepVec`), so a duplicated id in a replayed batch appends
    * byte-identical rows instead of fanning out through a self-join; search
    * is `Similarity.int8Search`'s integer code-cosine shortlist + exact
    * re-rank.
    */
  case object Sq8 extends VectorCodec {
    val dirName = "sq8_index"
    def encode(batch: DataFrame, idCol: String, vecCol: String): DataFrame =
      Similarity.int8Encode(batch, idCol, vecCol, keepVec = true)
    def search(idx: DataFrame, queryIds: Seq[Long], k: Int, shortlist: Int): DataFrame =
      Similarity.int8Search(
        idx.select(col("id"), col("codes"), col("__n2")),
        idx.select(col("id").as("vid"), col("vec").as("v")),
        queryIds, k, shortlist)
  }
}

/** Incremental ANN index (north-star extension): each micro-batch of
  * embedding rows is encoded by the [[VectorCodec]] and APPENDED to a
  * persistent code table; `topK` searches whatever has been indexed so far
  * with the same math as the batch path — the mirror of
  * [[BandedIndexSink]]'s shape for ANN.
  *
  * Scale shape:
  *  - the state is APPEND-ONLY parquet `(id, vec, codes, ..., __batch)` —
  *    no batch ever rewrites it; encoding cost is O(batch), independent of
  *    the accumulated index size;
  *  - a search scans only the code columns (parquet column pruning keeps
  *    the full vectors on disk) with a bounded per-partition heap per
  *    query; the exact re-rank reads `vec` for the shortlist rows alone,
  *    via the id join.
  *
  * Replay safety: an at-least-once re-delivery appends byte-identical rows
  * (encode is deterministic); reads collapse them with a dropDuplicates on
  * id, so a crash between append and checkpoint commit cannot skew search
  * results.
  */
class VectorIndexSink(spark: SparkSession, stateDir: String,
                      codec: VectorCodec, autoCompactEvery: Int = 0)
    extends Serializable {

  private val codesDir = s"$stateDir/${codec.dirName}"

  // Hadoop FS probe, not java.io.File (cf. BandedIndexSink: a local-file
  // probe on an HDFS/object-store stateDir silently reports "no state");
  // data presence means actual parquet data — `_SUCCESS`-only and
  // `_temporary`-only leftovers must not count (see IndexDirs.hasData)
  private def hasState: Boolean = IndexDirs.hasData(spark, codesDir)

  /** Encode one micro-batch and append it. */
  def process(batch: DataFrame, idCol: String, vecCol: String,
              batchId: Long): Unit = {
    IndexDirs.heal(spark, codesDir)   // a crashed compact may hold state aside
    codec.encode(batch, idCol, vecCol)
      .withColumn("__batch", lit(batchId))
      .write.mode("append").parquet(codesDir)
    // amortized maintenance, same opt-in as the near-dup sinks (foreachBatch
    // executions are serialized — right after the append is between batches)
    if (autoCompactEvery > 0 && batchId % autoCompactEvery == autoCompactEvery - 1)
      compact()
  }

  /** Everything indexed so far, replay-duplicates collapsed. */
  def index(): DataFrame = {
    require(hasState, s"vector index at $codesDir is empty — nothing processed yet")
    spark.read.parquet(codesDir).dropDuplicates("id")
  }

  /** Top-k over the accumulated index; query ids must be indexed. Same
    * semantics as the codec's batch top-k over the union of all processed
    * batches.
    */
  def topK(queryIds: Seq[Long], k: Int, shortlist: Int = 64): DataFrame =
    // one snapshot feeds the query page, the scan and the re-rank
    codec.search(index().localCheckpoint(true), queryIds, k, shortlist)

  /** Fold the per-batch code-table files down to a few, preserving
    * `__batch` and the replay-duplicate rows (dropDuplicates still
    * collapses them on read) — run between micro-batches (see
    * [[IndexDirs.compact]]).
    */
  def compact(targetFiles: Int = 4): Unit =
    IndexDirs.compact(spark, codesDir, None, targetFiles)

  /** Attach as a foreachBatch sink on a stream of embedding rows. */
  def attach[T](ds: Dataset[T], idCol: String, vecCol: String): org.apache.spark.sql.streaming.DataStreamWriter[T] =
    ds.writeStream.foreachBatch { (batch: Dataset[T], id: Long) =>
      process(batch.toDF(), idCol, vecCol, id)
      ()
    }
}
