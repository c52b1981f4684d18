package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * The one MemoryStream replay every `st*` harness runs through: start
 * `df` into the memory sink `sink`, run each feed round (one or more
 * `MemoryStream.addData` calls) followed by one `processAllAvailable`,
 * then stop the query, delete its checkpoint and restore the session
 * conf in a finally. Returns the drained sink as `s.table(sink)`.
 *
 * Keep `sink` fixed per query: each attempt then replaces the previous
 * attempt's temp view and frees its rows, where a per-attempt name
 * would keep every attempt's sink reachable from the session catalog.
 *
 * The harness conf pins shuffle partitions to 4, the state-partition
 * cap: every harness holds at most a handful of state rows, and 32
 * state stores per micro-batch were pure commit constant (the r13
 * idle-drift finding).
 *
 * It also disables no-data micro-batches: the harnesses advance the
 * watermark with explicit sentinel DATA batches (emission uses the
 * previous batch's watermark — that is why there are TWO sentinel
 * rounds), so the extra no-data batches Spark schedules after each
 * watermark change only re-pay the state-store commit constant without
 * ever emitting a row the next data batch would not (r17 st33 profile:
 * 10 → 6 micro-batches, 10.0 → 6.8 s, bit-identical 6782-row output).
 * A streaming query snapshots the session conf at start, so the
 * restore cannot affect the already-started stream.
 *
 * `keepNoDataBatches = true` opts a query back into the default
 * regime: st09's LATE-REPLAY drop needs the no-data batch between its
 * two data batches to bake the advanced watermark in before the
 * replays arrive (without it the replayed events were counted twice —
 * 605 of 620 windows doubled at sf0.01); late-data semantics under the
 * DEFAULT execution regime is exactly what st09 exists to prove.
 *
 * The checkpoint lives under `java.io.tmpdir`, which the bench/verify
 * mains point at a run-scoped tmpfs (see [[graft.TmpWork]]).
 */
object StreamReplay {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  def apply(s: SparkSession, df: Dataset[_], sink: String,
      mode: String = "append", keepNoDataBatches: Boolean = false)(
      rounds: IterableOnce[() => Any]): DataFrame = {
    val savedPartitions = s.conf.get(Partitions)
    val savedNoData = s.conf.get(NoData, "true")
    val ckpt = java.nio.file.Files.createTempDirectory(s"${sink}_ckpt").toString
    var q: StreamingQuery = null
    try {
      s.conf.set(Partitions, "4")
      if (!keepNoDataBatches) s.conf.set(NoData, "false")
      q = df.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(mode).start()
      rounds.iterator.foreach { feed => feed(); q.processAllAvailable() }
    } finally {
      if (q != null) q.stop()
      deleteRecursively(ckpt)
      s.conf.set(Partitions, savedPartitions)
      s.conf.set(NoData, savedNoData)
    }
    s.table(sink)
  }
}
