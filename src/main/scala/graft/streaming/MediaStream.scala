package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/**
 * Streaming twins of the multimodal operators (`graft.ops.Multimodal`):
 * media blobs arrive on a stream and are fingerprinted/deduplicated at
 * ingest — the crawl-frontier posture, where a duplicate image should
 * be dropped the moment it arrives rather than by a nightly batch.
 *
 * Scale posture: the decode+hash is a stateless row-local map (the
 * blob never enters any state store); dedup state is one row per
 * DISTINCT perceptual hash — (hash, seen-marker), never pixels — and
 * Spark's `dropDuplicatesWithinWatermark` expires it at the horizon,
 * so state is bounded by distinct-content arrival rate × watermark,
 * not by stream lifetime or image size.
 */
object MediaStream {

  /** One arriving media blob. */
  final case class MediaArrival(media_id: Long, ts: Timestamp, img: Array[Byte])

  // Public: generated code calls the accessors directly, and a private
  // class fails codegen and falls back to the interpreter.
  final case class HashedArrival(media_id: Long, ts: Timestamp, ahash: Long)

  /**
   * FIRST-SEEN streaming image dedup on the PERCEPTUAL hash: each
   * arrival is decoded and average-hashed row-locally
   * ([[Multimodal.aHashBytes]] — the exact arithmetic of the batch
   * `imageAHash`, so streaming and batch fingerprints bit-match), and
   * only the first arrival of each hash within the watermark horizon
   * survives — a re-encoded or slightly brightened copy of an already
   * -ingested image drops at the gate, which d01-style byte
   * fingerprints cannot do. Un-decodable blobs drop (crawl posture).
   */
  def firstSeenImages(imgs: Dataset[MediaArrival], watermark: String = "1 hour",
      grid: Int = 4): DataFrame = {
    implicit val enc = Encoders.product[HashedArrival]
    imgs
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap(m =>
          Multimodal.aHashBytes(m.img, grid).map(h => HashedArrival(m.media_id, m.ts, h)))
      }
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("ahash")
      .select(col("media_id"), col("ahash"))
  }

  final case class SignedArrival(media_id: Long, ts: Timestamp, sig: String)

  /**
   * FIRST-SEEN streaming VIDEO dedup — [[firstSeenImages]]' gate at
   * video grain (the re-upload problem at ingest): each arriving AVI
   * demuxes and fingerprints row-locally to its perceptual SIGNATURE
   * (sorted distinct per-frame aHashes, the batch mm13 rule — stream
   * and batch signatures bit-match), and only the first arrival of
   * each signature inside the watermark horizon survives. State is one
   * (signature, marker) row per distinct CONTENT — never frames, never
   * bytes — expiring at the horizon; undecodable blobs drop.
   */
  def firstSeenVideos(vids: Dataset[MediaArrival],
      watermark: String = "1 hour"): DataFrame = {
    implicit val enc = Encoders.product[SignedArrival]
    vids
      .mapPartitions(it => it.flatMap(m =>
        Multimodal.aviSignature(m.media_id, m.img)
          .map(s => SignedArrival(m.media_id, m.ts, s))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sig")
      .select(col("media_id"), col("sig"))
  }
}
