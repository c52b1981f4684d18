package graft.queries

import org.apache.spark.sql.functions._

import graft.tables.Tables

/**
 * WordPiece tokenizer gate (Schuster & Nakajima 2012 — the BERT
 * tokenizer family), completing the production subword triad next to
 * t20/t35's BPE and t37/t40's unigram-LM. Runs on the customer-name
 * vocabulary for the same reason t35/t37 do: it is the one testdata
 * vocabulary that SCALES (1500 distinct 17-char digit-bearing words
 * at sf0.01, 150k at sf1) where the documents corpus is 31 words
 * flat.
 */
object WordPieceQueries {

  /** The pinned 530-piece WordPiece vocabulary: `WordPiece.train(
    * wordFreq(bpe1kTrainingSource(sf0.01)), 512 merges)` — pinned by
    * WordPieceSpec against the trainer (the BpeMerges1k discipline). */
  lazy val WordPieceVocab: Seq[String] =
    WordPieceVocabTable.raw.linesIterator.filter(_.nonEmpty).toSeq

  /** Longest piece CONTENT length in the pinned vocabulary (## prefix
    * excluded) — bounds both the greedy scan and the oracle's arc
    * enumeration. */
  lazy val MaxPieceLen: Int =
    WordPieceVocab.map(p =>
      if (p.startsWith(graft.ops.WordPiece.Cont)) p.length - 2 else p.length).max

  /** Oracle walk depth: names post-normalization are 17 chars at
    * every SF and greedy consumes ≥ 1 char per level; 20 leaves
    * headroom without bloating the generated SQL. */
  private val OracleMaxLen = 20

  val queries: Seq[Q] = Seq(
    Q(
      "t41_wordpiece_fertility",
      (s, dir) => {
        // WordPiece tokenizer fertility per nation — t35/t37's rollup
        // under the THIRD tokenizer family: each name segments
        // greedy-longest-match-first under the pinned 530-piece
        // vocabulary (no DP, no floats — the greedy walk is the
        // whole algorithm, which is exactly why BERT-lineage
        // tokenizers are deployable at corpus scale), nations roll up
        // names/chars/pieces/unks plus compression in basis points.
        // Everything in the hash is an integer. The apply broadcasts
        // the vocabulary and memoizes per distinct word per partition
        // (names are unique — the honest zero-amortization worst
        // case, t35's argument); the oracle replays the identical
        // walk as 20 unrolled levels over the unique longest-match
        // arc table.
        val c = Tables(s, dir).customer
        graft.ops.WordPiece.tokenCounts(
            c, "c_custkey", "c_name", WordPieceVocab, MaxPieceLen)
          .where(col("n_words") > 0)
          .join(c.select("c_custkey", "c_nationkey"), "c_custkey")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_names"),
            sum("n_chars").as("n_chars"),
            sum("n_pieces").as("n_pieces"),
            min("n_pieces").as("min_pieces"),
            max("n_pieces").as("max_pieces"),
            sum("n_unk").as("n_unk"),
            expr("sum(n_pieces) * 10000 div sum(n_chars)").as("compression_bp"))
          .select(col("c_nationkey").as("nationkey"), col("n_names"),
            col("n_chars"), col("n_pieces"), col("min_pieces"),
            col("max_pieces"), col("n_unk"), col("compression_bp"))
          .orderBy("nationkey")
      },
      Some(t41OracleSql)),

    Q(
      "st37_stream_wordpiece",
      (s, dir) => {
        // STREAMING WordPiece tokenization — t41's pinned vocabulary
        // applied at ingest, st34's posture exactly: the greedy scan
        // is a pure function of the word, so tokenization at ingest
        // is stateless append and bit-matches the batch apply (the
        // frozen vocabulary rides the closure; no state store).
        // Universe capped ABSOLUTE (c_custkey < 2000 — st13's
        // discipline: the feed is ~2k rows at ANY SF ≥ 0.1).
        // collect() is the MemoryStream feeding harness; production
        // uses readStream.
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
            graft.ops.WordPiece.tokenCounts(
                stream.toDS().toDF("c_custkey", "c_name"),
                "c_custkey", "c_name", WordPieceVocab, MaxPieceLen)
              .filter(col("n_words") > 0),
            "st37_pieces")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("c_custkey")
      },
      Some(st37OracleSql)))

  /** The shared oracle core: normalize/split words exactly as
    * [[graft.ops.Bpe.normText]], build the UNIQUE greedy arc at every
    * (word, position) — the longest vocabulary match, `##`-prefixed
    * after position 0 — then walk every word down its arcs in
    * [[OracleMaxLen]] unrolled levels (each level advances every
    * unfinished word by exactly one piece; a position with no arc
    * marks the word stuck = [UNK]). A word still UNFINISHED after the
    * last level (pos < L, stuck = 0 — a normalized word longer than
    * [[OracleMaxLen]] single-char arcs, impossible for today's 17-char
    * names but enforced nowhere upstream) is treated as [UNK] rather
    * than silently counted with a partial piece total: the Spark
    * greedy scan is unbounded, so the divergence surfaces as a LOUD
    * hash mismatch instead of a plausible-looking wrong count. Ends in
    * a `perkey` CTE with (c_custkey, n_words, n_chars, n_pieces,
    * n_unk). */
  private def wordpieceOracleCore(filter: String): String = {
    val vals = WordPieceVocab.map(p => s"('$p')").mkString(",")
    val levels = (1 to OracleMaxLen).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT g.name, g.L,
         |    CASE WHEN g.pos >= g.L OR g.stuck = 1 OR a.l IS NULL
         |      THEN g.pos ELSE g.pos + a.l END AS pos,
         |    CASE WHEN g.pos >= g.L OR g.stuck = 1 OR a.l IS NULL
         |      THEN g.np ELSE g.np + 1 END AS np,
         |    CASE WHEN g.stuck = 1 OR (g.pos < g.L AND a.l IS NULL)
         |      THEN 1 ELSE 0 END AS stuck
         |  FROM g${k - 1} g LEFT JOIN arc a
         |    ON a.name = g.name AND a.j = g.pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH pieces(p) AS (SELECT * FROM (VALUES $vals) t(p)),
       |words AS MATERIALIZED (
       |  SELECT c_custkey, w
       |  FROM (SELECT c_custkey, unnest(string_split(trim(regexp_replace(regexp_replace(
       |          lower(c_name), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')), ' ')) AS w
       |        FROM customer WHERE $filter)
       |  WHERE w <> ''),
       |vocab AS MATERIALIZED (SELECT DISTINCT w AS name, len(w) AS L FROM words),
       |arc AS MATERIALIZED (
       |  SELECT name, j, CAST(max(l) AS BIGINT) AS l
       |  FROM (SELECT v.name, r1.range AS j, r2.range AS l
       |        FROM vocab v CROSS JOIN range($OracleMaxLen) r1
       |          CROSS JOIN range(1, ${MaxPieceLen + 1}) r2
       |        WHERE r1.range < v.L AND r1.range + r2.range <= v.L) c
       |  JOIN pieces pc ON pc.p = CASE WHEN c.j = 0
       |      THEN substr(c.name, 1, CAST(c.l AS INT))
       |      ELSE '##' || substr(c.name, CAST(c.j + 1 AS INT), CAST(c.l AS INT)) END
       |  GROUP BY 1, 2),
       |g0 AS (SELECT name, L, CAST(0 AS BIGINT) AS pos,
       |    CAST(0 AS BIGINT) AS np, 0 AS stuck FROM vocab),
       |$levels,
       |perword AS (SELECT name, L,
       |    CASE WHEN stuck = 1 OR pos < L THEN CAST(1 AS BIGINT) ELSE np END AS n_pieces,
       |    CASE WHEN stuck = 1 OR pos < L THEN CAST(1 AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END AS unk
       |  FROM g$OracleMaxLen),
       |perkey AS (SELECT c_custkey, count(*) AS n_words,
       |    CAST(sum(pw.L) AS BIGINT) AS n_chars,
       |    CAST(sum(pw.n_pieces) AS BIGINT) AS n_pieces,
       |    CAST(sum(pw.unk) AS BIGINT) AS n_unk
       |  FROM words w JOIN perword pw ON pw.name = w.w
       |  GROUP BY 1)""".stripMargin
  }

  private def t41OracleSql: String =
    s"""${wordpieceOracleCore("TRUE")}
       |SELECT c_nationkey AS nationkey, count(*) AS n_names,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(min(n_pieces) AS BIGINT) AS min_pieces,
       |  CAST(max(n_pieces) AS BIGINT) AS max_pieces,
       |  CAST(sum(n_unk) AS BIGINT) AS n_unk,
       |  CAST(sum(n_pieces) * 10000 // sum(n_chars) AS BIGINT) AS compression_bp
       |FROM perkey JOIN customer USING (c_custkey)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** st37's oracle: the identical per-key census under the absolute
    * harness cap — the streaming apply must emit exactly the batch
    * accounting for every arriving key. */
  private def st37OracleSql: String =
    s"""${wordpieceOracleCore("c_custkey < 2000")}
       |SELECT c_custkey, n_words, n_chars, n_pieces, n_unk
       |FROM perkey ORDER BY c_custkey""".stripMargin
}
