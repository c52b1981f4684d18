package graft.queries

import org.apache.spark.sql.functions._

import graft.tables.Tables

/**
 * Byte-level BPE gate (Radford et al. 2019 — the GPT-2/RoBERTa/LLaMA
 * tokenizer lineage), the FOURTH production subword family next to
 * t20/t35 (char BPE), t37/t40 (unigram-LM) and t41 (WordPiece). Runs
 * on the customer-name vocabulary like t35/t41 — the one testdata
 * vocabulary that SCALES — but UN-normalized: byte-level's whole
 * point is losslessness, and the raw names carry exactly the bytes
 * ('#', uppercase 'C') the char-level normalizer destroys, so the
 * hash proves the no-normalization path end to end.
 */
object ByteBpeQueries {

  /** The pinned 1024-merge byte-level table: `ByteBpe.train(
    * ByteBpe.wordFreq(bpe1kTrainingSource(sf0.01)), 1024)` — pinned
    * by ByteBpeSpec against the trainer (the BpeMerges1k
    * discipline). Symbols are uppercase hex, one 2-char token per
    * byte. */
  lazy val ByteBpeMerges1k: Seq[(String, String)] =
    ByteBpeMerges1kTable.raw.linesIterator.filter(_.nonEmpty).map { l =>
      val sp = l.indexOf(' ')
      (l.substring(0, sp), l.substring(sp + 1))
    }.toSeq

  val queries: Seq[Q] = Seq(
    Q(
      "t42_bytebpe_fertility",
      (s, dir) => {
        // Byte-level BPE fertility per nation — t35's rollup under
        // the FOURTH tokenizer family: each RAW name (no
        // normalization — '#' and case survive, the lossless
        // contract) splits to UTF-8 bytes and merges under the
        // pinned 1024-rank table; nations roll up names/words/bytes/
        // tokens plus compression in basis points, all integers. The
        // apply broadcasts the ranks and memoizes per distinct word
        // per partition (names unique — zero amortization, the
        // honest worst case); the heap encoder is O(len log len) per
        // word independent of table size. The oracle replays the
        // identical greedy fold as t35's recursive CTE, seeded with
        // hex-PAIR initial splits (one symbol per byte).
        val c = Tables(s, dir).customer
        graft.ops.ByteBpe.tokenCounts(
            c, "c_custkey", "c_name", ByteBpeMerges1k)
          .where(col("n_words") > 0)
          .join(c.select("c_custkey", "c_nationkey"), "c_custkey")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_names"),
            sum("n_words").as("n_words"),
            sum("n_bytes").as("n_bytes"),
            sum("n_tokens").as("n_tokens"),
            min("n_tokens").as("min_tokens"),
            max("n_tokens").as("max_tokens"),
            expr("sum(n_tokens) * 10000 div sum(n_bytes)").as("compression_bp"))
          .select(col("c_nationkey").as("nationkey"), col("n_names"),
            col("n_words"), col("n_bytes"), col("n_tokens"),
            col("min_tokens"), col("max_tokens"), col("compression_bp"))
          .orderBy("nationkey")
      },
      Some(t42OracleSql)),

    Q(
      "st38_stream_bytebpe",
      (s, dir) => {
        // STREAMING byte-level BPE — t42's pinned table applied at
        // ingest, st37's posture exactly: the greedy merge of a word
        // is a pure function of its bytes, so tokenization at ingest
        // is stateless append and bit-matches the batch apply (the
        // frozen ranks ride the closure; no state store). Universe
        // capped ABSOLUTE (c_custkey < 2000 — st13's discipline).
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
            graft.ops.ByteBpe.tokenCounts(
                stream.toDS().toDF("c_custkey", "c_name"),
                "c_custkey", "c_name", ByteBpeMerges1k)
              .filter(col("n_words") > 0),
            "st38_tokens")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("c_custkey")
      },
      Some(st38OracleSql)))

  /** The shared oracle core: words = the RAW text split on single
    * spaces (NO normalization — the lossless contract), each distinct
    * word hexed (`hex()` — uppercase, byte-per-pair, exactly Scala's
    * "%02X") and seeded into t35's recursive-CTE greedy fold as
    * hex-PAIR symbols; every merge rank replays in order. Ends in a
    * `perkey` CTE with (c_custkey, n_words, n_bytes, n_tokens). */
  private def byteBpeOracleCore(filter: String): String = {
    val vals = ByteBpeMerges1k.zipWithIndex
      .map { case ((x, y), i) => s"(${i + 1},'$x','$y')" }.mkString(",")
    s"""WITH RECURSIVE merges(rank, x, y) AS (SELECT * FROM (VALUES $vals) t(r, x, y)),
       |words AS (
       |  SELECT c_custkey, w
       |  FROM (SELECT c_custkey, unnest(string_split(c_name, ' ')) AS w
       |        FROM customer WHERE $filter)
       |  WHERE w <> ''),
       |vocab AS (SELECT DISTINCT w FROM words),
       |hexed AS (SELECT w, hex(w) AS h FROM vocab),
       |step(w, r, s, nb) AS (
       |  SELECT w, 0, array_to_string(list_transform(range(len(h) // 2),
       |      i -> substr(h, CAST(i * 2 + 1 AS INT), 2)), ' '),
       |    CAST(len(h) // 2 AS BIGINT)
       |  FROM hexed
       |  UNION ALL
       |  SELECT st.w, st.r + 1,
       |    CASE WHEN st.s NOT LIKE '%' || m.x || ' ' || m.y || '%' THEN st.s ELSE
       |    list_reduce(string_split(st.s, ' '),
       |      (acc, t) -> CASE WHEN (acc = m.x OR ends_with(acc, ' ' || m.x)) AND t = m.y
       |                  THEN substr(acc, 1, len(acc) - len(m.x)) || m.x || m.y
       |                  ELSE acc || ' ' || t END) END, st.nb
       |  FROM step st JOIN merges m ON m.rank = st.r + 1),
       |toklen AS (SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS ntok, nb
       |  FROM step WHERE r = ${ByteBpeMerges1k.length}),
       |perkey AS (SELECT c_custkey, count(*) AS n_words,
       |    CAST(sum(nb) AS BIGINT) AS n_bytes,
       |    CAST(sum(ntok) AS BIGINT) AS n_tokens
       |  FROM words w JOIN toklen tl ON tl.w = w.w GROUP BY 1)""".stripMargin
  }

  private def t42OracleSql: String =
    s"""${byteBpeOracleCore("TRUE")}
       |SELECT c_nationkey AS nationkey, count(*) AS n_names,
       |  CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       |  CAST(sum(n_tokens) * 10000 // sum(n_bytes) AS BIGINT) AS compression_bp
       |FROM perkey JOIN customer USING (c_custkey)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** st38's oracle: the identical per-key census under the absolute
    * harness cap — the streaming apply must emit exactly the batch
    * accounting for every arriving key. */
  private def st38OracleSql: String =
    s"""${byteBpeOracleCore("c_custkey < 2000")}
       |SELECT c_custkey, n_words, n_bytes, n_tokens
       |FROM perkey ORDER BY c_custkey""".stripMargin
}
