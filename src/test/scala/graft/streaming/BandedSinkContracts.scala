package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** One banding scheme's row in the shared [[BandedIndexSink]] contract
  * table: its fixtures and the kept sets they must produce.
  *
  * @param cross   batches 0, 1, ... with their expected kept ids: an
  *                intra-batch near-dup pair (smaller id wins), a historical
  *                near-dup of a kept doc, distant docs
  * @param keyed   rows the scheme keys, near-dup-free among themselves
  * @param keyless rows the scheme cannot key (no band rows at all)
  * @param replay  (seed batch 0, batch 1, batch 1's kept ids) — batch 1
  *                holds a historical dup of the seed
  */
final case class SinkContract(
    scheme: BandingScheme, idCol: String, payloadCol: String,
    cross: Seq[(DataFrame, Set[Long])],
    keyed: DataFrame, keyless: DataFrame,
    replay: (DataFrame, DataFrame, Set[Long]))

/** The contracts every banding scheme's sink keeps — written once, run by
  * each scheme's suite on its own [[SinkContract]] row: cross- and
  * intra-batch drops, keyless rows pass, the `__batch` replay fence, and a
  * keyless batch's kept ids stay readable after an in-stream compaction.
  * `nearDups`, `items` and `keylessRows` name the scheme's docs in the test
  * names.
  */
abstract class BandedSinkContracts(nearDups: String, items: String,
                                   keylessRows: String) extends SparkSpec {

  /** This suite's row; a def, so fixtures build inside the tests. */
  protected def contract: SinkContract

  private def run(sink: BandedIndexSink, c: SinkContract, batch: DataFrame,
                  batchId: Long): DataFrame =
    sink.process(batch, c.idCol, c.payloadCol, batchId)

  private def ids(kept: DataFrame): Set[Long] = kept.collect().map(_.getLong(0)).toSet

  private def newSink(c: SinkContract, autoCompactEvery: Int = 0) =
    new BandedIndexSink(spark, Files.createTempDirectory("graft-banded").toString,
      c.scheme, autoCompactEvery = autoCompactEvery)

  test(s"cross-batch and intra-batch $nearDups drop; distant $items pass") {
    val c = contract
    val sink = newSink(c)
    c.cross.zipWithIndex.foreach { case ((batch, expected), i) =>
      assert(ids(run(sink, c, batch, i.toLong)) === expected, s"batch $i")
    }
  }

  test(s"$keylessRows pass the gate (they duplicate nothing)") {
    val c = contract
    val batch = c.keyed.unionByName(c.keyless)
    assert(ids(run(newSink(c), c, batch, 0L)) === ids(batch.select(c.idCol)))
  }

  test("a replayed batch reproduces its kept set") {
    val c = contract
    val (seed, batch, expected) = c.replay
    val sink = newSink(c)
    run(sink, c, seed, 0L)
    val first = ids(run(sink, c, batch, 1L))
    assert(first === expected)
    // replay batch 1 (crash between append and commit): its own batch-1
    // index entries must be fenced out, so its kept docs are kept again
    // instead of matching themselves
    val replay = ids(run(sink, c, batch, 1L))
    assert(replay === first, s"replay diverged: $replay vs $first")
  }

  test("a keyless batch's kept ids survive an in-stream compaction") {
    // batch 1 yields no band rows, so nothing forces its kept frame before
    // autoCompactEvery = 1 folds the index the probe listed; the action
    // after process() must still read the kept ids, not the deleted files
    val c = contract
    val sink = newSink(c, autoCompactEvery = 1)
    assert(ids(run(sink, c, c.keyed, 0L)).nonEmpty)
    val expected = ids(c.keyless.select(c.idCol))
    assert(ids(run(sink, c, c.keyless, 1L)) === expected)
  }
}
