package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Upsert

/** The engine's merge sink (S6 streaming form): each micro-batch of upsert
  * events is folded into a persistent "current state" table with
  * latest-wins semantics.
  *
  * State lives in a [[graft.connector.GraftCatalog]] table under
  * `<stateDir>/state` and each batch installs through a real SQL
  * `MERGE INTO` ([[CatalogMergeStore]]) — the table-format MERGE that maps
  * the reference's durability contract, a transactional per-block upsert
  * (stream_blocks.py:108-115). The manifest CAS gives atomic commit,
  * snapshot isolation for readers concurrent with ingest, and vacuum.
  * Rows carry a hash key bucket (`__bucket`), and the MERGE is gated to the
  * buckets a batch touches, so the rewrite skips every dir whose committed
  * `__bucket` range misses them.
  *
  * What one storage path gives up: the rewrite is pruned, not strictly
  * O(touched buckets) — a dir that mixes touched and untouched buckets is
  * rewritten whole. Swapping per-bucket directories in place would bound it
  * strictly, but a reader concurrent with ingest (the paper's own traffic:
  * API reads beside the block stream) could then see a bucket mid-swap.
  * Nor is there a separate pointer-file publish for object stores: the
  * catalog's manifest CAS, with its commit lock where rename is not atomic,
  * already gives atomic commit, snapshot isolation and vacuum there.
  *
  * Combined with checkpointing (exactly-once micro-batches) the fold is
  * idempotent: replaying a batch re-merges the same rows onto state that
  * already contains them and changes nothing, so a crash mid-merge is
  * healed by replay.
  */
class UpsertSink(spark: SparkSession, stateDir: String,
                 keys: Seq[String], seqCol: String, opCol: String,
                 numBuckets: Int = 16,
                 backend: UpsertSink.Backend = UpsertSink.CatalogMerge)
    extends Serializable {

  import UpsertSink.{BucketCol, DeletedState, SeqState}

  // the state table owns these names; a user column sharing one would
  // silently corrupt the fold (e.g. withColumn(seqCol, col(SeqState)) is a
  // no-op overwrite when seqCol == "__seq")
  require(!(keys :+ seqCol :+ opCol).exists(UpsertSink.Reserved.contains),
    s"key/seq/op columns must not use reserved names ${UpsertSink.Reserved.mkString(", ")}")

  private val store = new CatalogMergeStore(spark, stateDir, keys,
    mergeOnRead = backend == UpsertSink.CatalogMergeMor)

  /** Stable key bucket: Murmur3 over the key columns, identical for a key on
    * the batch side and in the state layout.
    */
  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(numBuckets)))

  def state(): DataFrame =
    if (store.hasState)
      store.read(None)
        .filter(!col(DeletedState))
        .drop(BucketCol, SeqState, DeletedState)
    else spark.emptyDataFrame

  /** Merge one micro-batch of upsert-log rows into the state table,
    * gating the MERGE to the key buckets the batch touches. `batchId` is
    * the foreachBatch id; replay safety comes from the idempotent fold, not
    * from the id.
    *
    * The state carries two bookkeeping columns per key so that CROSS-batch
    * out-of-order delivery reproduces full-log compaction: `__seq` — the
    * highest seq ever applied to the key — lets existing state re-enter the
    * fold at its TRUE position (re-entering at seq −inf would let any late
    * event in a later micro-batch overwrite newer state); and `__deleted`
    * tombstones keep a trailing delete's seq, so a late upsert older than
    * the delete stays dead instead of resurrecting the key. With those two,
    * a late row's columns merge exactly where the full-log window would
    * have put them.
    */
  def merge(batch: DataFrame, batchId: Long): Unit = {
    val clash = batch.columns.filter(UpsertSink.Reserved.contains)
    require(clash.isEmpty,
      s"batch carries reserved state-bookkeeping column(s) ${clash.mkString(", ")}")
    val b = withBucket(batch)
    val touched = b.select(BucketCol).distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val log =
      if (store.hasState)
        // only the touched buckets re-enter the fold, at their stored seq
        store.read(Some(touched.toSeq))
          .withColumn(seqCol, col(SeqState))
          .withColumn(opCol, when(col(DeletedState), "delete").otherwise("upsert"))
          .drop(SeqState, DeletedState)
          .unionByName(b)
      else b
    // __bucket is functionally dependent on the keys, so it survives the
    // per-key compaction unchanged
    val groupCols = (keys :+ BucketCol).map(col)
    val maxSeq = log.groupBy(groupCols: _*).agg(max(col(seqCol)).as(SeqState))
    val compacted = Upsert.compactLog(log, keys, seqCol, opCol)
      .join(maxSeq.drop(BucketCol), keys)
      .withColumn(DeletedState, lit(false))
    // keys present in the log but absent from the compacted output ended in
    // a delete — persist them as tombstones (all data columns null)
    val dataCols = log.columns.filterNot(c =>
      keys.contains(c) || c == BucketCol || c == seqCol || c == opCol)
    val tombstones = maxSeq
      .join(compacted.select(keys.map(col): _*), keys, "left_anti")
      .select((keys :+ BucketCol).map(col) ++
        dataCols.map(c => lit(null).cast(log.schema(c).dataType).as(c)) :+
        col(SeqState) :+ lit(true).as(DeletedState): _*)
    val next = compacted.unionByName(tombstones)
    store.commit(next, touched.toSeq)
  }

  /** Attach as a foreachBatch sink on a stream of upsert-log rows. */
  def attach[T](ds: Dataset[T]): org.apache.spark.sql.streaming.DataStreamWriter[T] =
    ds.writeStream.foreachBatch { (batch: Dataset[T], id: Long) =>
      merge(batch.toDF(), id)
      ()
    }
}

object UpsertSink {
  /** State-bookkeeping column names the sink owns (see the constructor
    * guard).
    */
  val Reserved: Set[String] = Set("__seq", "__deleted", "__bucket")

  private[streaming] val BucketCol = "__bucket"
  private[streaming] val SeqState = "__seq"
  private[streaming] val DeletedState = "__deleted"

  /** The state table's MERGE mode. */
  sealed trait Backend extends Serializable
  /** Copy-on-write: each batch rewrites the state dirs its touched buckets
    * fall in (the default).
    */
  case object CatalogMerge extends Backend
  /** [[CatalogMerge]] with the table in merge-on-read mode: a batch writes
    * deletion vectors over the matched rows plus ONE appended dir of new
    * state instead of rewriting bucket dirs — O(batch) written per batch,
    * with `compact()` as the amortized maintenance that purges vectors.
    */
  case object CatalogMergeMor extends Backend
}
