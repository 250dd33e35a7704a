package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connector.{GraftCatalog, TableLog}

/** [[UpsertSink]]'s state store: a [[graft.connector.GraftCatalog]] table
  * whose rows are `(data columns, __bucket, __seq, __deleted)`, written by
  * a real SQL `MERGE INTO` (DSv2 row-level operation) per micro-batch. What
  * the lakehouse transaction layer gives: atomic commit via the manifest
  * CAS (a crash mid-merge leaves the previous version intact and at worst
  * an unreferenced staging dir for vacuum; checkpointed replay redoes the
  * merge), snapshot isolation for readers concurrent with merges, version
  * history until vacuum, and the state table is queryable/time-travelable
  * as `<catalog>.state` by any Spark SQL session sharing the conf.
  *
  * Rewrite granularity: the catalog's copy-on-write group is one manifest
  * data dir, pruned by committed per-dir column stats against target-only
  * conjuncts of the MERGE condition. The commit below therefore adds the
  * implied conjunct `t.__bucket IN (touched)` to the ON clause (implied
  * because the bucket is a pure function of the key and every source row
  * comes from a touched bucket, so matched pairs are unaffected) — each
  * batch then rewrites only the dirs whose bucket range intersects the
  * touched set, and every other dir stays in the manifest as it was.
  * Reference durability contract: the per-block transactional upsert,
  * stream_blocks.py:108-115.
  */
class CatalogMergeStore(spark: SparkSession, stateDir: String,
                        keys: Seq[String],
                        mergeOnRead: Boolean = false) extends Serializable {
  import UpsertSink.BucketCol

  /** One catalog per state dir (the name encodes the dir so two sinks never
    * collide); catalogs register lazily through the session conf. SHA-256
    * of the path, not String.hashCode: ensureCatalog overwrites the
    * catalog's root conf, so a 32-bit collision between two state dirs in
    * one session would silently point both sinks at one table.
    */
  private val catName = "graft_state_" + CatalogMergeStore.dirToken(stateDir)
  private val tableRef = s"$catName.state"

  private def ensureCatalog(ss: SparkSession = spark): Unit = {
    ss.conf.set(s"spark.sql.catalog.$catName", classOf[GraftCatalog].getName)
    ss.conf.set(s"spark.sql.catalog.$catName.root", stateDir)
  }

  private def log =
    new TableLog(s"$stateDir/state", spark.sparkContext.hadoopConfiguration)

  /** True when a committed state version exists. */
  def hasState: Boolean = log.exists && log.latestVersion.nonEmpty

  /** Current state including the bookkeeping columns, pruned to the
    * `touched` buckets (None = all buckets). Call only when [[hasState]].
    */
  def read(touched: Option[Seq[Int]]): DataFrame = {
    // read the pinned snapshot's parquet dirs directly rather than through
    // the catalog table: every dir a manifest lists is immutable, so this
    // is the same snapshot-isolated row set — but the MERGE source plan then
    // does NOT contain the merge target itself. A self-referencing source
    // trips a Spark 4.1 lazy-analysis bug once the scan advertises runtime
    // group-filter attributes: analysis re-lazifies the duplicated relation
    // to V2TableReference and the copy inside ReplaceData's
    // groupFilterCondition is never re-resolved ("No plan for
    // TableReference" at physical planning; pinned by SelfRefMergeSpec).
    val entries = log.currentEntries()
    val t =
      if (entries.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], log.schema)
      else
        // a merge-on-read table hides rows behind deletion vectors; this
        // direct read must subtract them or the fold would resurrect
        // superseded state (caught by the catalog-mor sink spec)
        // read by PHYSICAL column names, rename to logical AFTER the
        // vector subtraction (column mapping; applyVectors probes the
        // hidden `_metadata` struct, which only the raw file-source frame
        // serves — a projection in between would unresolve it)
        graft.connector.ColumnMapping.renameDf(
          graft.connector.DvReads.applyVectors(spark,
            spark.read.schema(graft.connector.ColumnMapping.toPhysical(log.schema))
              .parquet(entries.map(_.dir): _*),
            entries, spark.sparkContext.hadoopConfiguration),
          graft.connector.ColumnMapping.inverseMap(log.schema))
    touched match {
      // the bucket filter reaches the parquet scan (row-group stats skip
      // untouched data), so this read is pruned, not strictly bounded
      case Some(ks) => t.filter(col(BucketCol).isin(ks.map(Int.box): _*))
      case None => t
    }
  }

  /** Install `next` — every surviving row of exactly the `touched` buckets —
    * with one MERGE gated to those buckets.
    */
  def commit(next: DataFrame, touched: Seq[Int]): Unit = {
    // under foreachBatch the batch frame belongs to a per-micro-batch CLONE
    // of the session; its temp views are invisible to the outer session, so
    // DDL + MERGE must run on the frame's own session
    val ss = next.sparkSession
    ensureCatalog(ss)
    ensureCatalog()
    if (!log.exists) {
      // merge-on-read flips the batch write from O(touched-dirs rewritten)
      // to O(batch rows appended) + per-dir deletion vectors
      val props =
        if (mergeOnRead) " TBLPROPERTIES ('graft.merge.mode'='merge-on-read')"
        else ""
      ss.sql(s"CREATE TABLE $tableRef (${next.schema.toDDL})$props")
    } else {
      // the backend choice is the caller's explicit intent — a store
      // pointed at an EXISTING state table aligns the table's merge mode
      // rather than silently running in whatever mode the table was
      // created with
      val prop = graft.connector.GraftTable.MergeModeProp
      val have = log.properties.get(prop)
      if (mergeOnRead && !have.contains("merge-on-read"))
        ss.sql(s"ALTER TABLE $tableRef SET TBLPROPERTIES ('$prop'='merge-on-read')")
      else if (!mergeOnRead && have.contains("merge-on-read"))
        ss.sql(s"ALTER TABLE $tableRef UNSET TBLPROPERTIES ('$prop')")
    }
    val src = s"graft_merge_src_${java.lang.Long.toHexString(System.nanoTime())}"
    next.createOrReplaceTempView(src)
    try {
      // the implied target-only conjunct is the group filter that lets the
      // catalog prune copy-on-write dirs by their committed __bucket stats
      val bucketGate =
        if (touched.nonEmpty) s" AND t.`$BucketCol` IN (${touched.mkString(", ")})"
        else ""
      val on = keys.map(k => s"t.`$k` = s.`$k`").mkString(" AND ") + bucketGate
      // the sink's fold already produced the full surviving row set of the
      // touched buckets (tombstones included), so latest-wins installation
      // is exactly upsert-by-key; replaying a batch re-merges identical
      // rows and changes nothing
      ss.sql(
        s"""MERGE INTO $tableRef t USING $src s ON $on
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |""".stripMargin)
    } finally ss.catalog.dropTempView(src)
  }

  /** Reclaim superseded snapshot versions (Delta-VACUUM contract: run
    * outside the reader SLA window).
    */
  def vacuum(keepVersions: Int = 2): Unit = log.vacuum(keepVersions)

  /** The SQL-visible catalog name this store registers for its state dir. */
  def catalogName: String = catName

  /** Fold the per-batch MERGE dirs (one per commit) into consolidated dirs,
    * clustered by bucket + key so both pruning layers (per-dir stats for
    * the MERGE bucket gate, parquet row-group stats inside the dir) stay
    * tight. Stream maintenance, paired with [[vacuum]].
    */
  def compact(smallBytes: Long = 128L << 20): Boolean =
    graft.connector.Compaction.compact(spark, log, smallBytes,
      clusterBy = BucketCol +: keys)
}

object CatalogMergeStore {
  /** Collision-resistant identifier token for a state dir path. */
  private[streaming] def dirToken(stateDir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(stateDir.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
}
