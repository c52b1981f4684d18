package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase
import graft.ops.Multimodal

class MediaStreamSpec extends SparkTestBase {

  private def png(seed: Long, jitter: Int = 0): Array[Byte] =
    Multimodal.encodePng(seed, jitter = jitter)

  private def arrival(id: Long, seed: Long, jitter: Int = 0): MediaStream.MediaArrival =
    MediaStream.MediaArrival(id,
      new Timestamp(1700000000000L + id * 1000L), png(seed, jitter))

  test("first-seen image dedup drops cross-batch perceptual copies, " +
      "keeps distinct content, drops corrupt blobs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch 1: originals 0..9; batch 2: a jittered copy of 3 (same
    // content +1 red — the perceptual near-dup), an exact re-encode of
    // 7, a genuinely new image 20, and one corrupt blob
    val b1 = (0L until 10L).map(i => arrival(i, i))
    val b2 = Seq(arrival(103L, 3L, jitter = 1), arrival(107L, 7L),
      arrival(120L, 20L),
      MediaStream.MediaArrival(999L,
        new Timestamp(1700000000000L + 999000L), Array[Byte](1, 2, 3)))

    val stream = MemoryStream[MediaStream.MediaArrival]
    val ckpt = java.nio.file.Files.createTempDirectory("media_spec").toString
    val q = MediaStream.firstSeenImages(stream.toDS(), watermark = "24 hours")
      .writeStream.format("memory").queryName("media_spec_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      Seq(b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally {
      q.stop()
      graft.queries.deleteRecursively(ckpt)
    }
    val survivors = spark.table("media_spec_out")
      .collect().map(r => r.getLong(0)).toSet

    // the jittered copy of 3 must hash-match its original (the
    // perceptual property) and drop ACROSS the batch boundary; the
    // exact re-encode of 7 likewise; image 20 is new content
    assert(!survivors.contains(103L), "jittered copy must drop cross-batch")
    assert(!survivors.contains(107L), "re-encoded copy must drop cross-batch")
    assert(survivors.contains(120L), "new content must survive")
    assert(!survivors.contains(999L), "corrupt blob must drop")
    // every batch-1 original with a NOVEL hash survived; survivors
    // equal the batch min-per-hash replay on the same arrivals
    val batchHashes = (b1 ++ b2).flatMap(m =>
      Multimodal.aHashBytes(m.img, 4).map(h => (m.media_id, h)))
    val expect = batchHashes.groupBy(_._2).values.map(_.map(_._1).min).toSet
    assert(survivors == expect, s"streaming != batch replay: $survivors vs $expect")
  }

  test("first-seen video dedup: a cross-batch re-upload drops on its " +
      "perceptual signature; new content and distinct videos survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def vid(id: Long, seed: Long, jit: Int = 0): MediaStream.MediaArrival =
      MediaStream.MediaArrival(id,
        new Timestamp(1700000000000L + id * 1000L),
        Multimodal.encodeAvi(seed, jit = jit))
    val b1 = Seq(vid(1L, 1L), vid(2L, 2L), vid(3L, 3L))
    // batch 2: +1-red re-upload of video 3, byte-exact re-upload of 1,
    // new content, and a corrupt blob
    val b2 = Seq(vid(203L, 3L, jit = 1), vid(201L, 1L), vid(220L, 20L),
      MediaStream.MediaArrival(999L,
        new Timestamp(1700000000000L + 999000L), Array[Byte](9, 9, 9)))

    val stream = MemoryStream[MediaStream.MediaArrival]
    val ckpt = java.nio.file.Files.createTempDirectory("media_spec_v").toString
    val q = MediaStream.firstSeenVideos(stream.toDS(), watermark = "24 hours")
      .writeStream.format("memory").queryName("media_spec_vid")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      Seq(b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally {
      q.stop()
      graft.queries.deleteRecursively(ckpt)
    }
    val out = spark.table("media_spec_vid").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!out.contains(203L), "perceptual re-upload must drop cross-batch")
    assert(!out.contains(201L), "byte-exact re-upload must drop cross-batch")
    assert(out.contains(220L), "new content must survive")
    assert(!out.contains(999L), "corrupt blob must drop")
    assert(Set(1L, 2L, 3L).subsetOf(out.keySet))
    // streamed signature == the batch decodeAviFrames replay
    val sig3 = Multimodal.decodeAviFrames(
        Seq(Multimodal.VideoRow(3L, Multimodal.encodeAvi(3L))).toDS())
      .collect().map(_.ahash).distinct.sorted.mkString("-")
    assert(out(3L) == sig3, s"stream signature ${out(3L)} != batch $sig3")
  }

  test("image and video first-seen gates run under strict codegen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def vid(id: Long, seed: Long): MediaStream.MediaArrival =
      MediaStream.MediaArrival(id,
        new Timestamp(1700000000000L + id * 1000L), Multimodal.encodeAvi(seed))
    // fail hard instead of falling back to the interpreter when the
    // generated Java cannot reach the arrival classes' accessors
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val imgs = MemoryStream[MediaStream.MediaArrival]
      val images = graft.queries.StreamReplay(spark,
          MediaStream.firstSeenImages(imgs.toDS(), watermark = "24 hours"),
          "media_spec_strict_img")(
        Seq(() => imgs.addData(Seq(arrival(0L, 0L), arrival(1L, 1L), arrival(2L, 0L)))))
      val imageIds = images.collect().map(_.getLong(0)).toSet
      assert(imageIds.contains(0L) && !imageIds.contains(2L), imageIds.toString)
      val vids = MemoryStream[MediaStream.MediaArrival]
      val videos = graft.queries.StreamReplay(spark,
          MediaStream.firstSeenVideos(vids.toDS(), watermark = "24 hours"),
          "media_spec_strict_vid")(
        Seq(() => vids.addData(Seq(vid(1L, 1L), vid(2L, 2L), vid(3L, 1L)))))
      val videoIds = videos.collect().map(_.getLong(0)).toSet
      assert(videoIds.contains(1L) && !videoIds.contains(3L), videoIds.toString)
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }
}
