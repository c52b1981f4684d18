package graft.queries

import org.apache.spark.sql.functions._

import graft.tables.Tables

/**
 * Unigram-LM tokenizer gate (Kudo 2018 — the SentencePiece unigram
 * model, the OTHER production subword family next to t20/t35's BPE).
 * Runs on the customer-name vocabulary for the same reason t35 does:
 * it is the one testdata vocabulary that SCALES (1500 distinct
 * 17-char digit-bearing words at sf0.01, 150k at sf1) where the
 * documents corpus is 31 words flat.
 */
object UnigramQueries {

  /** The pinned 82-piece unigram table: `Unigram.train(wordFreq(
    * bpe1kTrainingSource(sf0.01)), vocabSize = 64)` — 64 learned
    * multi-char pieces plus the 18-char alphabet. Micro-nat integer
    * log-probs, so the Viterbi apply and the oracle's unrolled DP do
    * pure long arithmetic (bit-parity by construction). Pinned by
    * UnigramSpec against the trainer (the BpeMerges1k discipline). */
  lazy val UnigramPieces: Seq[(String, Long)] =
    UnigramPiecesTable.raw.linesIterator.filter(_.nonEmpty).map { l =>
      val sp = l.indexOf(' ')
      (l.substring(0, sp), l.substring(sp + 1).toLong)
    }.toSeq

  /** Oracle DP depth: names post-normalization are 17 chars at every
    * SF; 20 leaves headroom without bloating the generated SQL. */
  private val OracleMaxLen = 20
  private val MaxPieceLen = 8

  val queries: Seq[Q] = Seq(
    Q(
      "t37_unigram_fertility",
      (s, dir) => {
        // Unigram-LM tokenizer fertility per nation — t35's rollup
        // under the OTHER tokenizer family: each name Viterbi-segments
        // under the pinned 82-piece table (frozen integer micro-nat
        // log-probs; max score, then fewest pieces — one packed long
        // per DP cell, see Unigram.viterbiPacked), and nations roll up
        // names/chars/pieces/log-prob plus compression in basis
        // points. Everything in the hash is an integer — no float
        // crosses the engine boundary at all. The apply broadcasts the
        // table and memoizes per distinct word per partition (zero
        // amortization here — names are unique — which makes it the
        // honest worst case, exactly t35's argument); the oracle
        // replays the identical packed-long DP as 20 unrolled
        // position levels over an arcs table.
        val c = Tables(s, dir).customer
        graft.ops.Unigram.pieceCounts(c, "c_custkey", "c_name", UnigramPieces)
          .where(col("n_words") > 0)
          .join(c.select("c_custkey", "c_nationkey"), "c_custkey")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_names"),
            sum("n_chars").as("n_chars"),
            sum("n_pieces").as("n_pieces"),
            min("n_pieces").as("min_pieces"),
            max("n_pieces").as("max_pieces"),
            sum("lp_micro").as("lp_micro"),
            expr("sum(n_pieces) * 10000 div sum(n_chars)").as("compression_bp"))
          .select(col("c_nationkey").as("nationkey"), col("n_names"),
            col("n_chars"), col("n_pieces"), col("min_pieces"),
            col("max_pieces"), col("lp_micro"), col("compression_bp"))
          .orderBy("nationkey")
      },
      Some(t37OracleSql)),

    Q(
      "st34_stream_unigram_scoring",
      (s, dir) => {
        // STREAMING unigram tokenization — t37's pinned piece table
        // applied at ingest, twinning st25/st29/st30's frozen-model
        // posture for the tokenizer itself (the ingestion shape a
        // sequence-packing writer needs: piece counts must exist the
        // moment a document lands, not after a batch repack; st31
        // consumes exactly these counts). Stateless append — the
        // frozen table rides the closure, the per-word packed-long
        // Viterbi runs row-locally, no state store at all. Universe
        // capped ABSOLUTE (c_custkey < 2000 — st13's discipline: the
        // feed is ~2k rows at ANY SF ≥ 0.1). collect() is the
        // MemoryStream feeding harness; production uses readStream.
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val rows = Tables(s, dir).customer.filter(col("c_custkey") < 2000)
          .orderBy("c_custkey").select(col("c_custkey"), col("c_name"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            graft.ops.Unigram.pieceCounts(
                stream.toDS().toDF("c_custkey", "c_name"),
                "c_custkey", "c_name", UnigramPieces)
              .filter(col("n_words") > 0),
            "st34_pieces")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("c_custkey")
      },
      Some(st34OracleSql)),

    Q(
      "st36_stream_unigram_sample",
      (s, dir) => {
        // STREAMING subword-regularization sampling — t40's draw at
        // ingest, st34's posture: because the sample is a PURE
        // FUNCTION of the word (deterministic hash draw, the whole
        // point of t40's design), sampling at ingest is stateless
        // append and bit-matches the batch apply — a property true
        // RNG could never give a restarting stream (a recovered
        // micro-batch would re-roll different segmentations; the
        // hash draw replays identically). Universe capped ABSOLUTE
        // (c_custkey < 2000 — st13's discipline). collect() is the
        // MemoryStream feeding harness; production uses readStream.
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val rows = Tables(s, dir).customer.filter(col("c_custkey") < 2000)
          .orderBy("c_custkey").select(col("c_custkey"), col("c_name"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            graft.ops.Unigram.pieceCountsSampled(
                stream.toDS().toDF("c_custkey", "c_name"),
                "c_custkey", "c_name", UnigramPieces)
              .filter(col("n_words") > 0),
            "st36_pieces")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("c_custkey")
      },
      Some(st36OracleSql)),

    Q(
      "t40_unigram_sample",
      (s, dir) => {
        // SUBWORD-REGULARIZATION sampling (Kudo 2018 §3.2 — the reason
        // the unigram LM exists: LLM pipelines train on SAMPLED
        // segmentations, not Viterbi, for robustness): each name draws
        // from its 4-best segmentations with probability ∝ P^(1/2).
        // t37's lattice machinery is the hard part and is reused as
        // the list-Viterbi n-best DP (top-4 packed values per DP cell,
        // exact by the prefix property); weights quantize to integer
        // micro on the score DELTA (the Viterbi slot is exactly 10^6 —
        // underflow-proof), and the draw is DETERMINISTIC — the word's
        // polyhash through one splitmix universal hash, mod the weight
        // total, walked down the cumulative weights (the x13 hash-min
        // precedent: partition-invariant and oracle-replayable; one
        // draw per DISTINCT word keeps the apply memo sound). Rolled
        // up per nation like t37 plus n_diverse — how many names
        // sampled AWAY from Viterbi, the knob-effectiveness readout.
        // Scale shape is t37's exactly: broadcast pieces, one narrow
        // mapPartitions pass, per-partition memo.
        val c = Tables(s, dir).customer
        graft.ops.Unigram.pieceCountsSampled(c, "c_custkey", "c_name",
            UnigramPieces)
          .where(col("n_words") > 0)
          .join(c.select("c_custkey", "c_nationkey"), "c_custkey")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_names"),
            sum("n_chars").as("n_chars"),
            sum("n_pieces").as("n_pieces"),
            sum("lp_micro").as("lp_micro"),
            sum("n_diverse").as("n_diverse"),
            expr("sum(n_pieces) * 10000 div sum(n_chars)").as("compression_bp"))
          .select(col("c_nationkey").as("nationkey"), col("n_names"),
            col("n_chars"), col("n_pieces"), col("lp_micro"),
            col("n_diverse"), col("compression_bp"))
          .orderBy("nationkey")
      },
      Some(t40OracleSql)))

  /** Shared replay core for t37/st34: the packed-long Viterbi DP
    * (`score*64 − n_pieces`) unrolled as one CTE level per string
    * position — level i takes the max over the ≤ 8 predecessor levels
    * joined through the arcs table (vocabulary pieces as literals;
    * unknown single chars score the fixed UnkLpMicro). Integer
    * arithmetic end to end — the exact longs `Unigram.viterbiPacked`
    * computes — down to the per-key `perkey` census. */
  private def unigramOracleCore(filter: String): String = {
    val vals = UnigramPieces
      .map { case (p, lp) => s"('$p',CAST($lp AS BIGINT))" }.mkString(",")
    val levels = (1 to OracleMaxLen).map { i =>
      val preds = (math.max(0, i - MaxPieceLen) until i)
        .map(j => s"SELECT name, $j AS j, v FROM d$j")
        .mkString(" UNION ALL ")
      s"""d$i AS MATERIALIZED (
         |  SELECT a.name, max(p.v + 64 * a.lp - 1) AS v
         |  FROM arcs a JOIN ($preds) p ON p.name = a.name AND p.j = a.j
         |  WHERE a.i = $i GROUP BY a.name)"""
    }.mkString(",\n")
    val allv = (1 to OracleMaxLen)
      .map(i => s"SELECT name, $i AS i, v FROM d$i").mkString(" UNION ALL ")
    s"""WITH pieces(p, lp) AS (SELECT * FROM (VALUES $vals) t(p, lp)),
       |words AS MATERIALIZED (
       |  SELECT c_custkey, w
       |  FROM (SELECT c_custkey, unnest(string_split(trim(regexp_replace(regexp_replace(
       |          lower(c_name), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')), ' ')) AS w
       |        FROM customer WHERE $filter)
       |  WHERE w <> ''),
       |vocab AS MATERIALIZED (SELECT DISTINCT w AS name, len(w) AS L FROM words),
       |arcs AS MATERIALIZED (
       |  SELECT c.name, c.j, c.i,
       |    coalesce(pc.lp, CASE WHEN c.i - c.j = 1
       |      THEN CAST(${graft.ops.Unigram.UnkLpMicro} AS BIGINT) END) AS lp
       |  FROM (SELECT v.name, r1.range AS j, r2.range AS i
       |        FROM vocab v CROSS JOIN range($OracleMaxLen) r1
       |        CROSS JOIN range(1, ${OracleMaxLen + 1}) r2
       |        WHERE r2.range > r1.range AND r2.range <= v.L
       |          AND r2.range - r1.range <= $MaxPieceLen) c
       |  LEFT JOIN pieces pc ON pc.p = substr(c.name, CAST(c.j + 1 AS INT), CAST(c.i - c.j AS INT))
       |  WHERE coalesce(pc.lp, CASE WHEN c.i - c.j = 1 THEN 0 END) IS NOT NULL),
       |d0 AS MATERIALIZED (SELECT name, CAST(0 AS BIGINT) AS v FROM vocab),
       |$levels,
       |allv AS ($allv),
       |fin AS (SELECT v.name, a.v FROM vocab v JOIN allv a ON a.name = v.name AND a.i = v.L),
       |perword AS (SELECT name,
       |    CAST((-v) % 64 AS BIGINT) AS n_pieces,
       |    CAST(-((-v) // 64) AS BIGINT) AS lp_micro,
       |    CAST(len(name) AS BIGINT) AS n_chars
       |  FROM fin),
       |perkey AS (SELECT c_custkey,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |    CAST(sum(lp_micro) AS BIGINT) AS lp_micro
       |  FROM words JOIN perword ON perword.name = words.w GROUP BY 1)""".stripMargin
  }

  private def t37OracleSql: String =
    s"""${unigramOracleCore("TRUE")}
       |SELECT c_nationkey AS nationkey, count(*) AS n_names,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(min(n_pieces) AS BIGINT) AS min_pieces,
       |  CAST(max(n_pieces) AS BIGINT) AS max_pieces,
       |  CAST(sum(lp_micro) AS BIGINT) AS lp_micro,
       |  CAST(sum(n_pieces) * 10000 // sum(n_chars) AS BIGINT) AS compression_bp
       |FROM perkey JOIN customer USING (c_custkey)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** st34's oracle: the identical per-key census under the absolute
    * harness cap — the streaming apply must emit exactly the batch
    * accounting for every arriving key. */
  private def st34OracleSql: String =
    s"""${unigramOracleCore("c_custkey < 2000")}
       |SELECT c_custkey, n_words, n_chars, n_pieces, lp_micro
       |FROM perkey ORDER BY c_custkey""".stripMargin

  /** t40's oracle: the n-best replay — t37's unrolled DP with each
    * level keeping its TOP-4 values WITH MULTIPLICITY (row_number ≤ 4
    * over the candidate multiset; ties carry equal packed values so
    * the kept multiset is deterministic), then per word the α = 1/2
    * sampling weights on the micro-nat score deltas, the splitmix-
    * mixed polyhash draw, and the cumulative-weight walk — exactly
    * `Unigram.samplePacked`'s integers. */
  private def unigramSampleOracleCore(filter: String): String = {
    val vals = UnigramPieces
      .map { case (p, lp) => s"('$p',CAST($lp AS BIGINT))" }.mkString(",")
    val (ua, ub) = graft.ops.Dedup.hashCoefficients(1, 91L).head
    val levels = (1 to OracleMaxLen).map { i =>
      val preds = (math.max(0, i - MaxPieceLen) until i)
        .map(j => s"SELECT name, $j AS j, v FROM d$j")
        .mkString(" UNION ALL ")
      s"""d$i AS MATERIALIZED (
         |  SELECT name, v FROM (
         |    SELECT a.name, p.v + 64 * a.lp - 1 AS v,
         |      row_number() OVER (PARTITION BY a.name
         |        ORDER BY p.v + 64 * a.lp - 1 DESC) AS rk
         |    FROM arcs a JOIN ($preds) p ON p.name = a.name AND p.j = a.j
         |    WHERE a.i = $i)
         |  WHERE rk <= 4)"""
    }.mkString(",\n")
    val allv = (1 to OracleMaxLen)
      .map(i => s"SELECT name, $i AS i, v FROM d$i").mkString(" UNION ALL ")
    s"""WITH pieces(p, lp) AS (SELECT * FROM (VALUES $vals) t(p, lp)),
       |words AS MATERIALIZED (
       |  SELECT c_custkey, w
       |  FROM (SELECT c_custkey, unnest(string_split(trim(regexp_replace(regexp_replace(
       |          lower(c_name), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')), ' ')) AS w
       |        FROM customer WHERE $filter)
       |  WHERE w <> ''),
       |vocab AS MATERIALIZED (SELECT DISTINCT w AS name, len(w) AS L FROM words),
       |arcs AS MATERIALIZED (
       |  SELECT c.name, c.j, c.i,
       |    coalesce(pc.lp, CASE WHEN c.i - c.j = 1
       |      THEN CAST(${graft.ops.Unigram.UnkLpMicro} AS BIGINT) END) AS lp
       |  FROM (SELECT v.name, r1.range AS j, r2.range AS i
       |        FROM vocab v CROSS JOIN range($OracleMaxLen) r1
       |        CROSS JOIN range(1, ${OracleMaxLen + 1}) r2
       |        WHERE r2.range > r1.range AND r2.range <= v.L
       |          AND r2.range - r1.range <= $MaxPieceLen) c
       |  LEFT JOIN pieces pc ON pc.p = substr(c.name, CAST(c.j + 1 AS INT), CAST(c.i - c.j AS INT))
       |  WHERE coalesce(pc.lp, CASE WHEN c.i - c.j = 1 THEN 0 END) IS NOT NULL),
       |d0 AS MATERIALIZED (SELECT name, CAST(0 AS BIGINT) AS v FROM vocab),
       |$levels,
       |allv AS ($allv),
       |fin AS (SELECT v.name, a.v FROM vocab v JOIN allv a ON a.name = v.name AND a.i = v.L),
       |slots AS (SELECT name, v, -((-v) // 64) AS s,
       |    row_number() OVER (PARTITION BY name ORDER BY v DESC) AS rk
       |  FROM fin),
       |wsl AS (SELECT name, v, rk,
       |    CAST(floor(exp((s - max(s) OVER (PARTITION BY name)) / 2000000.0)
       |      * 1e6 + 0.5) AS BIGINT) AS wt,
       |    max(v) OVER (PARTITION BY name) AS v1
       |  FROM slots),
       |csl AS (SELECT name, v, v1, wt,
       |    CAST(sum(wt) OVER (PARTITION BY name ORDER BY rk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(wt) OVER (PARTITION BY name) AS BIGINT) AS tot
       |  FROM wsl),
       |drawn AS (SELECT name,
       |    ($ua * (h % 4294967296) + $ub) % 2147483647 AS hv
       |  FROM (SELECT name, ${OracleSql.polyFold("name")} AS h FROM vocab)),
       |pick AS (SELECT c.name, c.v, c.v1
       |  FROM csl c JOIN drawn dr ON dr.name = c.name
       |  WHERE (dr.hv % c.tot) >= c.cum - c.wt AND (dr.hv % c.tot) < c.cum),
       |perword AS (SELECT name,
       |    CAST((-v) % 64 AS BIGINT) AS n_pieces,
       |    CAST(-((-v) // 64) AS BIGINT) AS lp_micro,
       |    CAST(len(name) AS BIGINT) AS n_chars,
       |    CAST(CASE WHEN v <> v1 THEN 1 ELSE 0 END AS BIGINT) AS diverse
       |  FROM pick),
       |perkey AS (SELECT c_custkey,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |    CAST(sum(lp_micro) AS BIGINT) AS lp_micro,
       |    CAST(sum(diverse) AS BIGINT) AS n_diverse
       |  FROM words JOIN perword ON perword.name = words.w GROUP BY 1)""".stripMargin
  }

  private def t40OracleSql: String =
    s"""${unigramSampleOracleCore("TRUE")}
       |SELECT c_nationkey AS nationkey, count(*) AS n_names,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(sum(lp_micro) AS BIGINT) AS lp_micro,
       |  CAST(sum(n_diverse) AS BIGINT) AS n_diverse,
       |  CAST(sum(n_pieces) * 10000 // sum(n_chars) AS BIGINT) AS compression_bp
       |FROM perkey JOIN customer USING (c_custkey)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** st36's oracle: the identical sampled per-key census under the
    * absolute harness cap — the at-ingest draw must emit exactly the
    * batch accounting for every arriving key (determinism of the hash
    * draw is precisely what makes this twin possible). */
  private def st36OracleSql: String =
    s"""${unigramSampleOracleCore("c_custkey < 2000")}
       |SELECT c_custkey, n_words, n_chars, n_pieces, lp_micro, n_diverse
       |FROM perkey ORDER BY c_custkey""".stripMargin
}
