package graft.queries

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The one cap-drop logger's messages: each cap metric keeps its own
  * warning, and a metric that is no cap, or dropped nothing, logs none.
  */
class CapDropsSpec extends AnyFunSuite {

  test("each cap metric logs with its own message") {
    assert(CapDrops.message("lsh_buckets", Row(3L, 40L)).contains(
      "lsh_buckets hot-bucket cap dropped 3 buckets (40 member rows) — " +
        "raise maxBucket to trade skew safety for recall on these groups"))
    assert(CapDrops.message("cross_stream_buckets", Row(1L, 9L))
      .exists(_.startsWith("cross_stream_buckets hot-bucket cap dropped 1 ")))
    assert(CapDrops.message("bm25_dfcap", Row(5L)).contains(
      "bm25 df cap dropped 5 posting rows (stop-grade terms) — raise the " +
        "cap to trade probe fan-out for recall on those terms"))
  }

  test("no message without a drop, or for a metric that is no cap") {
    assert(CapDrops.message("lsh_buckets", Row(0L, 0L)).isEmpty)
    assert(CapDrops.message("lsh_buckets", Row(null, null)).isEmpty)
    assert(CapDrops.message("bm25_dfcap", Row(null)).isEmpty)
    assert(CapDrops.message("rows_seen", Row("not a long")).isEmpty)
  }
}
