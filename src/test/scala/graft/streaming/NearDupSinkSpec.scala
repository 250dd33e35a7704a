package graft.streaming

/** Incremental MinHash-LSH dedup: the text row of the banded-sink contracts
  * — cross-batch near-dups drop against the append-only band index,
  * first-wins ordering holds, and a replayed batch (crash-recovery path)
  * reproduces its original kept set.
  */
class NearDupSinkSpec extends BandedSinkContracts("near-dups", "docs", "zero-token docs") {
  import spark.implicits._

  private val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val textB = "completely different content about distributed query engines and shuffles"
  private val textC = "zebra yak xylophone walrus vulture under violet umbrellas singing quietly"

  private def docs(rows: (Long, String)*) = rows.toDF("id", "text")

  protected def contract: SinkContract = SinkContract(
    BandingScheme.MinHash(threshold = 0.9), "id", "text",
    // batch 0: doc 2 is an exact dup of doc 1 (intra-batch, smaller id
    // wins); batch 1: doc 4 duplicates batch 0's kept doc 1 (historical),
    // doc 5 is new
    cross = Seq(
      docs((1L, textA), (2L, textA), (3L, textB)) -> Set(1L, 3L),
      docs((4L, textA), (5L, textC)) -> Set(5L)),
    keyed = docs((1L, textA)),
    keyless = docs((2L, ""), (3L, "  \t ")),
    // 3 is a historical dup of 1
    replay = (docs((1L, textA)), docs((2L, textB), (3L, textA)), Set(2L)))
}
