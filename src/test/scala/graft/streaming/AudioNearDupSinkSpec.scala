package graft.streaming

import graft.ops.Multimodal
import org.apache.spark.sql.DataFrame

/** The audio row of the banded-sink contracts: the PCM fingerprint swaps
  * in, and first-wins, bucket-pruned probes and replay fencing hold
  * end-to-end exactly as for images and text.
  */
class AudioNearDupSinkSpec
    extends BandedSinkContracts("audio near-dups", "clips", "non-audio payloads") {
  import spark.implicits._

  private def audio(ids: Seq[Long]): DataFrame =
    Multimodal.syntheticAudio(ids.toDF("doc_id"), "doc_id")

  protected def contract: SinkContract = SinkContract(
    BandingScheme.audio(), "doc_id", "media",
    // 0 and 1 are variants of one waveform (intra-batch, smaller id wins);
    // 40 is an unrelated group; 2 is another variant of kept clip 0
    // (historical dup); 80 is fresh
    cross = Seq(audio(Seq(0L, 1L, 40L)) -> Set(0L, 40L),
      audio(Seq(2L, 80L)) -> Set(80L)),
    keyed = audio(Seq(0L)),
    keyless = Seq((99L, "not audio at all".getBytes("UTF-8"))).toDF("doc_id", "media"),
    replay = (audio(Seq(0L, 1L, 40L)), audio(Seq(2L, 80L)), Set(80L)))
}
