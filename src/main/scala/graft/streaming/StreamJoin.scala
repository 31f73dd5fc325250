package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked stream-stream interval join — the incremental form of
  * RangeJoin.pointInInterval: left events match right events with the
  * same key arriving within `maxLagSec` AFTER them.
  *
  * Both sides carry event-time watermarks and the join condition bounds
  * right's event time relative to left's, so Spark can expire join state
  * on both sides (without the time bound, stream-stream join state grows
  * forever — the unbounded-state trap). State per key is
  * O(events within the lag+watermark horizon), independent of stream
  * length: the shape that survives an always-on 100 TB/day feed.
  *
  * Column names must be disjoint across `left` and `right` (the spec
  * renames; production callers arrive pre-projected). */
object StreamJoin {

  def intervalJoin(left: DataFrame, leftKey: String, leftTs: String,
      right: DataFrame, rightKey: String, rightTs: String,
      maxLagSec: Long, watermarkSec: Long): DataFrame =
    watermarkedJoin(left, leftKey, leftTs, right, rightKey, rightTs,
      maxLagSec, watermarkSec, "inner")

  /** Left-outer variant: unmatched left events are EMITTED null-padded
    * once the watermark proves no in-window right event can still
    * arrive — the "purchase with no follow-up error" row a batch left
    * join would give, produced incrementally. Same bounded-state
    * guarantee; the null row's latency is the watermark delay (the
    * correctness/latency trade every streaming outer join makes). */
  def intervalJoinLeftOuter(left: DataFrame, leftKey: String,
      leftTs: String, right: DataFrame, rightKey: String, rightTs: String,
      maxLagSec: Long, watermarkSec: Long): DataFrame =
    watermarkedJoin(left, leftKey, leftTs, right, rightKey, rightTs,
      maxLagSec, watermarkSec, "leftOuter")

  private def watermarkedJoin(left: DataFrame, leftKey: String,
      leftTs: String, right: DataFrame, rightKey: String, rightTs: String,
      maxLagSec: Long, watermarkSec: Long, joinType: String): DataFrame = {
    val l = left.withWatermark(leftTs, s"$watermarkSec seconds")
    val r = right.withWatermark(rightTs, s"$watermarkSec seconds")
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxLagSec SECONDS"),
      joinType)
  }
}
