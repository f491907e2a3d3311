package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The counted broadcast pin, kept for the sites where it measured
  * faster than AQE's own choice (x56's verify join, see
  * [[DedupOps.VerifyBroadcastMaxPairs]], the x17 label rejoins, see
  * [[DedupOps.LabelBroadcastMaxRows]], and BPE segmentation, see
  * [[BpeOps.bpeSegment]]): the frame is localCheckpoint-materialized
  * and COUNTED while the DataFrame is built, and the broadcast hint is
  * pinned only when the count sits at or under a constant cap. AQE
  * re-elects a broadcast only under its ~10 MB adaptive threshold; a
  * pin wins where the frame is larger than that but still far under
  * Spark's 8 GiB broadcast cap. Every other corpus-coupled join carries
  * no hint: AQE broadcasts a side from its measured size at run time. */
object CountedHint {

  /** The pin decision for an already-measured row count. */
  def fn(rows: Long, cap: Long): DataFrame => DataFrame =
    if (rows <= cap) broadcast(_) else identity

  /** Materialize, count and pin one frame: the join that consumes the
    * returned frame reuses the checkpoint the count forces. */
  def counted(df: DataFrame, cap: Long): DataFrame = {
    val mat = df.localCheckpoint(false)
    fn(mat.count(), cap)(mat)
  }
}
