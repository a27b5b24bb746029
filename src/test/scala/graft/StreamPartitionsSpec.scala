package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registered streaming replays run their streams at
  * [[SparkEntry.StreamShufflePartitions]] through one scoped helper;
  * each must hand the shared session back with the shuffle-partition
  * count it found, or every later query would plan with the replay's.
  */
class StreamPartitionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val key = "spark.sql.shuffle.partitions"

  for (name <- Seq("q207_exact_neardup_stream", "q216_stream_sessions",
      "q192_agg_sink_stream", "q196_cdc_agg_loop", "q270_stream_dedup",
      "q277_stream_interval_join")) {
    test(s"$name leaves the session's shuffle partitions as it found them") {
      val before = spark.conf.get(key)
      assert(before != SparkEntry.StreamShufflePartitions.toString)
      assert(SparkEntry.queries(name)(spark, sf).count() > 0)
      assert(spark.conf.get(key) == before)
    }
  }

  test("withStreamPartitions restores the previous value when its body throws") {
    val before = spark.conf.get(key)
    var inside = ""
    val e = intercept[IllegalStateException] {
      SparkEntry.withStreamPartitions(spark) {
        inside = spark.conf.get(key)
        throw new IllegalStateException("stream failed")
      }
    }
    assert(e.getMessage == "stream failed")
    assert(inside == SparkEntry.StreamShufflePartitions.toString)
    assert(spark.conf.get(key) == before)
  }
}
