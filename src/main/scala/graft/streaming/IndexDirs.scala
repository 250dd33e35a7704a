package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Shared state-directory probing for the append-only parquet index sinks
  * ([[BandedIndexSink]], [[VectorIndexSink]]).
  */
private[streaming] object IndexDirs {

  /** True iff `dir` holds parquet DATA Spark's listing would actually
    * read. Two leftovers of a crashed or empty append must NOT count:
    *   - a `_SUCCESS`-only dir (zero-row append) — no partition dir, no
    *     `.parquet` file;
    *   - a `_temporary`-only dir (append crashed before any task
    *     committed) — a DIRECTORY entry, but one Spark's listing hides.
    * The predicate mirrors Spark's hidden-path convention exactly: a name
    * starting with `_` or `.` is hidden UNLESS it contains `=` (partition
    * dirs like `__bucket=3` are data even though they start with `_`).
    * Counting either leftover as state would send the next batch into a
    * schema-less `spark.read.parquet` and kill the stream.
    */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) heal(spark, dir)   // a crashed compact may hold the live data aside
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val name = st.getPath.getName
      val hidden = (name.startsWith("_") || name.startsWith(".")) &&
        !name.contains("=")
      (st.isDirectory && !hidden) ||
        (st.isFile && name.endsWith(".parquet"))
    }
  }

  /** Heal a compact() that died between its two publish renames: the live
    * data then sits at `<dir>__compact_old` with the index dir ABSENT —
    * restore it before anything reads or appends. Called from
    * [[hasData]] (so the dedup sinks' probes heal at the next batch) and
    * from the start of compact(); the code-table sinks call it before
    * their hasData-free appends. A no-op when the index dir exists.
    */
  def heal(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir + "__compact_old")
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"could not recover $old -> $p")
  }

  /** Fold an append-only index's per-batch file sets into a compact layout
    * — every row and column preserved byte-for-row, INCLUDING `__batch`
    * (the `__batch < batchId` replay fence filters the same rows after
    * compaction as before). Partitioned indexes (`partitionCol` set, the
    * near-dup chunk/band indexes) land as ~one file per partition value
    * (`repartition(pcol)` puts each value wholly in one task); flat
    * indexes (the ANN code tables) coalesce to `targetFiles`. Without
    * this, an N-batch stream leaves O(N x partitions) files and every
    * probe pays the listing+footer cost — amortized compaction caps it at
    * O(buckets).
    *
    * Concurrency/crash contract: run BETWEEN micro-batches (foreachBatch
    * executions are serialized per query; call from the driver while the
    * stream is idle or from inside the batch hook). The publish is
    * write-to-temp + two renames, with a `_COMPACTED` marker inside the
    * published dir discriminating every crash point:
    *   - died BETWEEN the renames (index absent, original aside at
    *     `__compact_old`): [[heal]] — at the next probe, append, or
    *     compact — renames the original back;
    *   - died between the renames and a hasData-free append already
    *     created a fresh index dir (no marker): the next compact MERGES
    *     the aside files back in, losing nothing;
    *   - died after the publish but before deleting the aside copy
    *     (marker present): the aside dir is the stale original and is
    *     dropped.
    * The aside copy is never deleted on any path that cannot prove it is
    * the stale original.
    */
  def compact(spark: SparkSession, dir: String,
              partitionCol: Option[String],
              targetFiles: Int = 4): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + "__compact_tmp")
    val old = new Path(dir + "__compact_old")
    heal(spark, dir)
    if (fs.exists(p) && fs.exists(old)) {
      if (fs.exists(new Path(p, Marker)))
        fs.delete(old, true)   // published: the aside dir is the stale original
      else
        mergeInto(fs, old, p)  // fresh appends raced a crashed swap: fold back
    }
    fs.delete(tmp, true)
    if (!hasData(spark, dir)) return
    val df = spark.read.parquet(dir)
    partitionCol match {
      case Some(pc) =>
        df.repartition(col(pc))
          .write.partitionBy(pc).mode("overwrite").parquet(tmp.toString)
      case None =>
        df.coalesce(math.max(1, targetFiles))
          .write.mode("overwrite").parquet(tmp.toString)
    }
    fs.create(new Path(tmp, Marker), true).close()
    require(fs.rename(p, old), s"could not stage $p aside for compaction")
    require(fs.rename(tmp, p), s"could not publish compacted index to $p " +
      s"(live data preserved at $old; the next heal() recovers it)")
    fs.delete(old, true)
  }

  /** Marker written into a compacted dir before publish: its presence
    * proves the dir came from a completed swap, so an aside
    * `__compact_old` copy next to it is the stale original. Underscore-
    * prefixed, so Spark reads and [[hasData]] ignore it.
    */
  private val Marker = "_COMPACTED"

  /** Move every data file from `src` into `dst` (preserving partition
    * subdirs; Spark part names are UUID-unique so collisions cannot
    * occur), then drop the emptied `src`.
    */
  private def mergeInto(fs: org.apache.hadoop.fs.FileSystem,
                        src: Path, dst: Path): Unit = {
    def walk(s: Path, d: Path): Unit =
      fs.listStatus(s).foreach { st =>
        val name = st.getPath.getName
        val hidden = (name.startsWith("_") || name.startsWith(".")) &&
          !name.contains("=")
        if (st.isDirectory && !hidden) {
          fs.mkdirs(new Path(d, name))
          walk(st.getPath, new Path(d, name))
        } else if (st.isFile && name.endsWith(".parquet"))
          require(fs.rename(st.getPath, new Path(d, name)),
            s"could not merge ${st.getPath} back into $d")
      }
    fs.mkdirs(dst)
    walk(src, dst)
    fs.delete(src, true)
  }
}
