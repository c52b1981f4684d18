package graft.queries

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase

class StreamReplaySpec extends SparkTestBase {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Checkpoint dirs a replay into `sink` left behind under the tmpdir. */
  private def leftoverCheckpoints(sink: String): Seq[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String]).toSeq.filter(_.startsWith(s"${sink}_ckpt"))

  /** Run `body` with the session conf set to values the harness conf
    * must not leave behind, restoring the suite's own values after. */
  private def withSentinelConf(body: => Unit): Unit = {
    val saved = Seq(Partitions, NoData).map(k => k -> spark.conf.get(k, "true"))
    spark.conf.set(Partitions, "7")
    spark.conf.set(NoData, "true")
    try body
    finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def assertSentinelConf(): Unit = {
    assert(spark.conf.get(Partitions) == "7")
    assert(spark.conf.get(NoData) == "true")
  }

  test("session conf is restored and the checkpoint removed when the start throws") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withSentinelConf {
      val stream = MemoryStream[Long]
      // complete mode needs an aggregation: start() rejects the plan
      intercept[org.apache.spark.sql.AnalysisException] {
        StreamReplay(spark, stream.toDS(), "replay_spec_bad_start", "complete")(
          Seq(() => stream.addData(1L)))
      }
      assertSentinelConf()
      assert(leftoverCheckpoints("replay_spec_bad_start").isEmpty)
    }
  }

  test("the query stops and its checkpoint goes when a feed round throws") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withSentinelConf {
      val stream = MemoryStream[Long]
      val e = intercept[IllegalStateException] {
        StreamReplay(spark, stream.toDS(), "replay_spec_bad_feed")(
          Seq(() => stream.addData(1L, 2L),
            () => throw new IllegalStateException("feed failed")))
      }
      assert(e.getMessage == "feed failed")
      assert(!spark.streams.active.exists(_.name == "replay_spec_bad_feed"),
        "the started query must be stopped")
      assertSentinelConf()
      assert(leftoverCheckpoints("replay_spec_bad_feed").isEmpty)
    }
  }

  test("repeated replays into one sink name each return their own rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def replay(rounds: Seq[Seq[Long]]) = {
      val stream = MemoryStream[Long]
      StreamReplay(spark, stream.toDS(), "replay_spec_repeat")(
        rounds.map(r => () => stream.addData(r)))
    }
    withSentinelConf {
      val first = replay(Seq(Seq(1L, 2L), Seq(3L)))
      assert(first.as[Long].collect().toSet == Set(1L, 2L, 3L))
      val second = replay(Seq(Seq(10L), Seq(20L)))
      assert(second.as[Long].collect().toSet == Set(10L, 20L))
      // the first attempt's frame still reads its own sink
      assert(first.as[Long].collect().toSet == Set(1L, 2L, 3L))
      assertSentinelConf()
      assert(!spark.streams.active.exists(_.name == "replay_spec_repeat"))
      assert(leftoverCheckpoints("replay_spec_repeat").isEmpty)
    }
  }
}
