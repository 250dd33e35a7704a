package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal}

/** How a [[BandedIndexSink]] turns a batch into index rows and decides a
  * near-duplicate: the key frame, the band derivation, the verify
  * predicate, and the index dir name. Stream and batch share the banding,
  * so they propose identical candidates.
  */
sealed abstract class BandingScheme extends Serializable {
  /** Index dir under the sink's state dir. */
  def dirName: String
  /** Columns an index row is keyed on; the last one also picks its
    * `__bucket`. */
  def bandCols: Seq[String]
  /** The stored per-doc key column. */
  def keyCol: String
  /** The `(id, keyCol)` frame of one batch. A row with no key (zero
    * tokens, undecodable media) yields no row: it duplicates nothing. */
  def keys(batch: DataFrame, idCol: String, payloadCol: String): DataFrame
  /** `(bandCols..., id, keyCol)` rows of a key frame. */
  def bands(keys: DataFrame): DataFrame
  /** True when the docs holding keys `a` and `b` are near-duplicates. */
  def verify(a: Column, b: Column): Column
}

object BandingScheme {

  /** MinHash-LSH over word sets — the streaming increment of
    * `Dedup.minhashNearDupPairs`: `band_index` rows `(band_hash, id, sig)`
    * from `Dedup.bandHashes`, verified by `estJaccard >= threshold` from the
    * stored signatures (no text is kept in state).
    */
  final case class MinHash(threshold: Double, numHashes: Int = 32,
                           numBands: Int = 16) extends BandingScheme {
    require(numBands >= 1 && numHashes / numBands >= 1,
      s"numBands $numBands must leave >= 1 signature row per band at $numHashes hashes")
    val dirName = "band_index"
    val bandCols = Seq("band_hash")
    val keyCol = "sig"
    def keys(batch: DataFrame, idCol: String, textCol: String): DataFrame =
      Dedup.minhashSignatures(batch, idCol, textCol, numHashes)
    def bands(sigs: DataFrame): DataFrame =
      Dedup.bandHashes(sigs, numBands)
        .join(sigs, Seq("id"))
        .select(col("band_hash"), col("id"), col("sig"))
    def verify(a: Column, b: Column): Column = Dedup.estJaccard(a, b) >= threshold
  }

  /** Any 64-bit perceptual hash — the streaming increment of the
    * `simhashPairs` family: `chunk_index` rows `(chunk, chunk_val, id, hash)`
    * from the same slicing `simhashPairs` blocks on, verified by
    * `bit_count(xor) <= maxHamming`. With `maxHamming <= numChunks - 1` the
    * chunk blocking has pigeonhole-total recall: the candidate pairs are
    * exact, never probabilistic.
    */
  final class Perceptual(fingerprint: (SparkSession, DataFrame) => DataFrame,
                         maxHamming: Int, numChunks: Int) extends BandingScheme {
    require(64 % numChunks == 0, s"numChunks $numChunks must divide 64")
    require(maxHamming <= numChunks - 1,
      s"maxHamming $maxHamming > numChunks - 1 = ${numChunks - 1} breaks the " +
        "pigeonhole recall guarantee (stream and batch would diverge)")
    private val bits = 64 / numChunks
    val dirName = "chunk_index"
    val bandCols = Seq("chunk", "chunk_val")
    val keyCol = "hash"
    def keys(batch: DataFrame, idCol: String, mediaCol: String): DataFrame =
      fingerprint(batch.sparkSession,
          batch.select(col(idCol).as("doc_id"), col(mediaCol).as("media")))
        .select(col("id"), col("simhash").as("hash"))
    def bands(hashes: DataFrame): DataFrame =
      hashes.select(col("id"), col("hash"),
          explode(sequence(lit(0), lit(numChunks - 1))).as("chunk"))
        .withColumn("chunk_val",
          expr(s"(hash >> (chunk * $bits)) & ${(1L << bits) - 1}"))
    def verify(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)) <= maxHamming
  }

  /** Image dedup: dHash (BMP byte math / JDK ImageIO for PNG/GIF/JPEG),
    * the streaming increment of [[Multimodal.imageNearDupPairs]]. */
  def image(maxHamming: Int = 3, numChunks: Int = 4): BandingScheme =
    new Perceptual(Multimodal.dHash64, maxHamming, numChunks)

  /** Audio dedup: the PCM energy-difference fingerprint, the streaming
    * increment of [[Multimodal.audioNearDupPairs]]. */
  def audio(maxHamming: Int = 3, numChunks: Int = 4): BandingScheme =
    new Perceptual(Multimodal.audioFingerprint64, maxHamming, numChunks)
}

/** Incremental near-duplicate dedup over an append-only banded index: each
  * micro-batch of `(id, payload)` rows is checked against every previously
  * KEPT doc and against itself; only near-dup-free survivors pass, and only
  * their bands are added to the state. The [[BandingScheme]] decides what
  * a key, a band and a near-dup are (MinHash for text, 64-bit perceptual
  * hashes for images and audio).
  *
  * Scale shape (the part that must survive 100 TB of accumulated corpus):
  *  - the state is an APPEND-ONLY parquet index of band rows,
  *    hash-partitioned by `__bucket` — no batch ever rewrites it (contrast
  *    UpsertSink, whose state mutates);
  *  - a batch probes the state by equi-join on the band columns AFTER
  *    pruning to the `__bucket` partitions its own bands fall in — small
  *    batches read a few partition directories, never the whole index;
  *  - candidates are verified from the stored keys (no text, pixels or
  *    samples in state), so probe cost is |candidates|, not |corpus|.
  *
  * Dedup is first-wins, like `StreamOps.dedupStream`: an earlier batch's kept
  * doc beats a later near-duplicate; within a batch the smaller id wins
  * (deterministic). A doc dropped as a near-dup does NOT enter the index, and
  * a doc drops when it is the larger id of ANY intra-batch pair — including
  * a pair whose smaller id was itself dropped (the batch
  * keep-one-per-pair-chain convention). On an intra-batch chain a~b, b~c
  * with a !~ c that drops c where per-doc arrival (batch size 1) would keep
  * it, so the kept set can depend on batch boundaries along chains; it
  * equals the ideal fold whenever every pair chain leads through its
  * smallest id.
  */
class BandedIndexSink(spark: SparkSession, stateDir: String,
                      scheme: BandingScheme, numBuckets: Int = 16,
                      autoCompactEvery: Int = 0)
    extends Serializable {

  private val index = s"$stateDir/${scheme.dirName}"

  // Hadoop FS probe, not java.io.File: on an HDFS/object-store stateDir a
  // local-file probe is always false, silently disabling every historical
  // near-dup check (cf. UpsertSink.fs)
  // state exists only when actual parquet data does: `_SUCCESS`-only
  // (zero-row append) and `_temporary`-only (crashed append) leftovers
  // must not count — see IndexDirs.hasData
  private def hasState: Boolean = IndexDirs.hasData(spark, index)

  /** Process one micro-batch of (idCol, payloadCol) rows: returns the kept
    * (near-dup-free) ids and appends their band index entries to state.
    *
    * Index rows carry the writing batch id, and the historical probe only
    * sees STRICTLY EARLIER batches — so a checkpoint-replayed batch (crash
    * between append and commit) reproduces its original kept set instead of
    * matching its own half-written entries and dropping everything.
    */
  def process(batch: DataFrame, idCol: String, payloadCol: String,
              batchId: Long): DataFrame = {
    val key = scheme.keyCol
    val keys = scheme.keys(batch, idCol, payloadCol).persist()
    val batchBands = scheme.bands(keys)
      .withColumn("__bucket", pmod(col(scheme.bandCols.last), lit(numBuckets.toLong)))
      .persist()
    try {
      // historical dups: probe ONLY the state partitions this batch's bands
      // fall in (partition pruning via the isin filter)
      val histDupIds =
        if (hasState) {
          val touched = batchBands.select("__bucket").distinct()
            .collect().map(_.getLong(0))
          spark.read.parquet(index)
            .filter(col("__bucket").isin(touched.map(Long.box).toSeq: _*))
            .filter(col("__batch") < batchId)
            .select(scheme.bandCols.map(col) :+ col(key).as("__prior"): _*)
            .join(batchBands, scheme.bandCols)
            .filter(scheme.verify(col(key), col("__prior")))
            .select(col("id")).distinct()
        } else keys.select(col("id")).limit(0)
      // intra-batch dups: the same bands and verify as the probe, joined
      // against the batch itself; smaller id wins, and a loser whose winner
      // was itself a historical dup still drops — its near-dup chain leads
      // to an already-kept prior doc
      val (a, b) = (batchBands.as("a"), batchBands.as("b"))
      val intraDupIds = a.join(b,
          scheme.bandCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
            col("a.id") < col("b.id"))
        .filter(scheme.verify(col(s"a.$key"), col(s"b.$key")))
        .select(col("b.id").as("id")).distinct()
      val dupIds = histDupIds.unionByName(intraDupIds).distinct()
      // kept starts from the BATCH ids, not the key frame: a keyless doc
      // yields no key row, but it is not a duplicate of anything and must
      // survive the gate.
      // LAZY localCheckpoint, not eager (round 21): the append below is the
      // first action — it materializes the blocks and Spark truncates the
      // lineage at that job's end, so the dedicated per-batch
      // materialization job disappears while the caller still reads
      // executor-pinned blocks with NO live lineage into the state files
      // (an in-stream compact() deletes them; a lazily-persisted plan
      // recomputing through the old listing would FileNotFound — measured
      // in IndexCompactionSpec).
      val kept = batch.select(col(idCol).as("id")).distinct()
        .join(dupIds, Seq("id"), "left_anti")
        .localCheckpoint(false)
      // append ONLY survivors' index entries; state never rewrites
      batchBands.join(kept, Seq("id"), "left_semi")
        .select(col("__bucket") +: scheme.bandCols.map(col) :+ col("id") :+
          col(key) :+ lit(batchId).as("__batch"): _*)
        .write.partitionBy("__bucket").mode("append").parquet(index)
      // amortized maintenance: foreachBatch executions are serialized, so
      // right after the append IS "between micro-batches" — a long-running
      // dedup stream then caps its own file count at O(buckets) with no
      // operator cron
      if (autoCompactEvery > 0 && batchId % autoCompactEvery == autoCompactEvery - 1)
        compact()
      kept
    } finally {
      batchBands.unpersist(blocking = false)
      keys.unpersist(blocking = false)
    }
  }

  /** Fold the per-batch index files to ~one per `__bucket`, preserving the
    * `__batch` replay fence — run between micro-batches (see
    * [[IndexDirs.compact]] for the contract). Probe results and replay
    * fencing are identical before and after.
    */
  def compact(): Unit = IndexDirs.compact(spark, index, Some("__bucket"))

  /** Attach as a foreachBatch sink: `onKept` receives the surviving ids of
    * each micro-batch (join back to the payload stream downstream).
    */
  def attach[T](ds: Dataset[T], idCol: String, payloadCol: String)
               (onKept: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[T] =
    ds.writeStream.foreachBatch { (batch: Dataset[T], id: Long) =>
      onKept(process(batch.toDF(), idCol, payloadCol, id), id)
      ()
    }
}
