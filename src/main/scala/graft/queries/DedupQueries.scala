package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup._
import graft.ops.TextAnalysis.tokens
import graft.tables.Tables

/**
 * Deduplication pack. The test corpus has no natural duplicates, so the
 * near-dup queries first append deterministic synthetic duplicates
 * (exact copies for d02, tail-truncated copies for d03/d04/d05) of the
 * first 50 docs under `doc_id + 1000000` — the operators must find them.
 */
object DedupQueries {

  /** DuckDB CTEs mirroring `withNearDups` + `shingleHashes`: corpus with
    * planted truncated dups, tokens, and the per-doc 55-bit poly-hash
    * shingle list (`hs`) — the exact integers Spark computes. */
  private def shingleCtes(drop: Int, cap: Long = Long.MaxValue): String = {
    val shingle = "w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3]"
    val base = if (cap == Long.MaxValue) "SELECT doc_id, text FROM documents"
      else s"SELECT doc_id, text FROM documents WHERE doc_id < $cap"
    s"""corpus AS (
       |  $base
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    array_to_string(string_split(text, ' ')[1:greatest(len(string_split(text, ' ')) - $drop, 1)], ' ')
       |  FROM documents WHERE doc_id < 50),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
       |sh AS (SELECT doc_id,
       |    list_transform(range(len(w) - 2), i -> ${OracleSql.polyFold(shingle)}) AS hs
       |  FROM toks WHERE len(w) >= 3)""".stripMargin
  }

  /** DuckDB twin of the Kirsch–Mitzenmacher two-hash MinHash signature
    * (`MinHashAgg`): per shingle the two base hashes h₁/h₂ from the
    * same splitmix-seeded (a, b) pairs, then sigᵢ = min over shingles
    * of (h₁ + i·h₂) mod P — the identical integers the native
    * aggregate computes. */
  private val minhashSigCte: String = {
    val cs = graft.ops.Dedup.hashCoefficients(2, 42L)
    val (a1, b1) = cs(0)
    val (a2, b2) = cs(1)
    s"""sig AS (SELECT doc_id,
       |    list_transform(range(128), i ->
       |      list_min(list_transform(hp, p -> (p[1] + i * p[2]) % 2147483647))) AS sig
       |  FROM (SELECT doc_id, list_transform(hs, h ->
       |      [($a1 * (h % 4294967296) + $b1) % 2147483647,
       |       ($a2 * (h % 4294967296) + $b2) % 2147483647]) AS hp
       |    FROM sh))"""
  }

  /** documents ∪ exact copies of doc_id < 50 (ids shifted by 1e6). */
  private def withExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents.select("doc_id", "text")
    d.union(d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** documents ∪ copies of doc_id < 50 with the last `drop` words removed. */
  private def withNearDups(s: SparkSession, dir: String, drop: Int): DataFrame = {
    val d = Tables(s, dir).documents.select("doc_id", "text")
    d.union(d.filter(col("doc_id") < 50)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(tokens(col("text")), lit(1),
          greatest(size(tokens(col("text"))) - drop, lit(1)))).as("text")))
  }

  /** d19's candidate bandings of the same 128 MinHash functions. */
  private val LshPlannerGrid: Seq[(Int, Int)] =
    Seq((64, 2), (32, 4), (16, 8), (8, 16), (4, 32))

  /** The S-curve midpoint (1/b)^(1/r) at 4dp — a plan-time constant
    * inlined identically into the Spark literal and the SQL text. */
  private def lshThreshold4(b: Int, r: Int): Double =
    math.floor(math.pow(1.0 / b, 1.0 / r) * 1e4 + 0.5) / 1e4

  val queries: Seq[Q] = Seq(
    Q(
      "d01_exact_dedup",
      (s, dir) => {
        Tables(s, dir).documents
          .groupBy("text")
          .agg(min("doc_id").as("doc_id"))
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some("""SELECT min(doc_id) AS doc_id FROM documents
             |GROUP BY text ORDER BY doc_id""".stripMargin)),

    Q(
      "d02_dup_groups",
      (s, dir) => {
        withExactDups(s, dir)
          .groupBy("text")
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1)
          .agg(
            count(lit(1)).as("dup_groups"),
            coalesce(sum("cnt"), lit(0L)).cast("long").as("dup_docs"))
      },
      Some("""SELECT count(*) AS dup_groups,
             |  CAST(coalesce(sum(cnt), 0) AS BIGINT) AS dup_docs
             |FROM (SELECT count(*) AS cnt
             |      FROM (SELECT doc_id, text FROM documents
             |            UNION ALL
             |            SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50)
             |      GROUP BY text HAVING count(*) > 1)""".stripMargin)),

    Q(
      "d03_minhash_pairs",
      (s, dir) => {
        minHashCandidatePairs(withNearDups(s, dir, drop = 3), "doc_id", "text")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${shingleCtes(drop = 3)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t)
             |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |FROM bands a JOIN bands b
             |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "d15_split_leakage",
      (s, dir) => {
        // Train/test LEAKAGE audit (Dodge et al. 2021's C4 finding:
        // benchmark leakage aside, near-duplicates STRADDLING a
        // train/eval split silently inflate held-out scores): d03's
        // MinHash-LSH candidate pairs, kept only where the two sides
        // land in DIFFERENT p06 splits. The split label is a pure
        // function of the id (p06's md5 bucket rule), so it computes
        // as a narrow map ON the candidate-pair frame itself — no join
        // back to the corpus at all; the audit costs one candidate
        // pass however large the corpus, and the planted near-dups
        // whose md5 buckets happen to cross the boundary are exactly
        // what it must surface.
        import graft.ops.TextAnalysis.hashSplit
        minHashCandidatePairs(withNearDups(s, dir, drop = 3), "doc_id", "text")
          .select(col("id_a"), col("id_b"),
            hashSplit(col("id_a")).as("split_a"), hashSplit(col("id_b")).as("split_b"))
          .filter(col("split_a") =!= col("split_b"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${shingleCtes(drop = 3)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t),
             |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
             |labeled AS (SELECT id_a, id_b,
             |    CASE WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
             |         WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
             |         ELSE 'test' END AS split_a,
             |    CASE WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
             |         WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
             |         ELSE 'test' END AS split_b
             |  FROM pairs)
             |SELECT id_a, id_b, split_a, split_b FROM labeled
             |WHERE split_a <> split_b ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "dc03_incremental_neardup",
      (s, dir) => {
        // Incremental NEAR-dedup across snapshots (dc02 covers exact
        // keys): the id%5==0 slice arrives as today's batch, the rest is
        // the standing corpus; candidates are cross-snapshot band
        // collisions only — planted near-dups whose original and mutant
        // fall on opposite sides of the split prove the cross-frame
        // signature comparability. The oracle recomputes BOTH sides'
        // signatures from the same coefficient literals and replays the
        // split join.
        val docs = withNearDups(s, dir, drop = 3)
        graft.ops.Dedup.incrementalCandidatePairs(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          "doc_id", "text")
          .orderBy("new_id", "old_id")
      },
      Some(s"""WITH ${shingleCtes(drop = 3)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t)
             |SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
             |FROM bands a JOIN bands b
             |  ON a.band = b.band AND a.bucket = b.bucket
             |WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
             |ORDER BY new_id, old_id""".stripMargin)),

    Q(
      "d04_simhash",
      (s, dir) => {
        // drop=1: a one-word tail mutation keeps planted pairs within
        // hamming ~2-6, the zone 4×12-bit banding is designed to catch
        // (guaranteed ≤3, ~80% at 4-6). Wider mutations belong to
        // MinHash (d03), which keys on set overlap, not bit margins.
        // hamming ≤ 12 filter: random pairs center at 24 (σ≈3.5).
        simHashCandidatePairs(withNearDups(s, dir, drop = 1), "doc_id", "text")
          .filter(col("hamming") <= 12)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${shingleCtes(drop = 1)},
             |votes AS (SELECT doc_id, t.range AS bit,
             |    sum(CASE WHEN (h >> CAST(t.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
             |  FROM (SELECT doc_id, unnest(hs) AS h FROM sh), range(48) t
             |  GROUP BY doc_id, t.range),
             |sim AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS sim
             |  FROM votes GROUP BY doc_id),
             |chunks AS (SELECT doc_id, sim, t.range AS band,
             |    (sim >> CAST(t.range * 12 AS INT)) & 4095 AS bucket
             |  FROM sim, range(4) t)
             |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
             |FROM chunks a JOIN chunks b
             |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sim, b.sim)) <= 12
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "d07_dedup_clusters",
      (s, dir) => {
        // Resolution: MinHash candidate pairs -> connected components ->
        // per-cluster representative (min id) + size. The oracle
        // recomputes the components with a recursive CTE.
        val pairs = minHashCandidatePairs(withNearDups(s, dir, drop = 3), "doc_id", "text")
        connectedComponents(pairs)
          .groupBy("component")
          .agg(count(lit(1)).as("cluster_size"))
          .orderBy("component")
      },
      Some(s"""WITH RECURSIVE ${shingleCtes(drop = 3)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t),
             |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
             |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |        UNION ALL SELECT id_b, id_a FROM pairs),
             |cc AS (
             |  SELECT DISTINCT src AS id, src AS lbl FROM sym
             |  UNION
             |  SELECT s.src, cc.lbl FROM sym s JOIN cc ON s.dst = cc.id)
             |SELECT min_lbl AS component, count(*) AS cluster_size
             |FROM (SELECT id, min(lbl) AS min_lbl FROM cc GROUP BY id)
             |GROUP BY 1 ORDER BY component""".stripMargin)),

    Q(
      "d20_softdedup_neardup",
      (s, dir) => {
        // SOFT NEAR-dedup (p13's DataComp-LM downweighting applied at
        // d07's cluster grain): every member of a c-member NEAR-dup
        // cluster keeps floor(1e6/c) ppm sampling weight, so the
        // cluster contributes one document's probability mass while
        // the natural distribution survives — the near-dup analogue of
        // p13, which can only see EXACT copies (a 3-words-trimmed copy
        // sails through its md5 key at full weight). Pipeline = d07's
        // machinery verbatim (MinHash-LSH pairs → connected
        // components) plus one component-size census and an ids-only
        // left join back to the corpus spine — singletons weigh 1e6,
        // so p08's weighted sampler consumes the column unchanged at
        // any dup density.
        val corpus = withNearDups(s, dir, drop = 3)
        val pairs = minHashCandidatePairs(corpus, "doc_id", "text")
        val cc = connectedComponents(pairs)
        val sizes = cc.groupBy("component").agg(count(lit(1)).as("n"))
        corpus.select("doc_id")
          .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .join(sizes, Seq("component"), "left")
          .select(col("doc_id"),
            coalesce(col("n"), lit(1L)).as("cluster_size"),
            expr("1000000 div coalesce(n, 1)").as("weight_ppm"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${shingleCtes(drop = 3)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t),
             |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
             |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |        UNION ALL SELECT id_b, id_a FROM pairs),
             |cc AS (
             |  SELECT DISTINCT src AS id, src AS lbl FROM sym
             |  UNION
             |  SELECT s.src, cc.lbl FROM sym s JOIN cc ON s.dst = cc.id),
             |resolved AS (SELECT id, min(lbl) AS comp FROM cc GROUP BY id),
             |sizes AS (SELECT comp, count(*) AS n FROM resolved GROUP BY comp)
             |SELECT c.doc_id,
             |  CAST(coalesce(z.n, 1) AS BIGINT) AS cluster_size,
             |  CAST(1000000 // coalesce(z.n, 1) AS BIGINT) AS weight_ppm
             |FROM corpus c
             |LEFT JOIN resolved r ON r.id = c.doc_id
             |LEFT JOIN sizes z ON z.comp = r.comp
             |ORDER BY c.doc_id""".stripMargin)),

    Q(
      "d07b_clusters_altstar",
      (s, dir) => {
        // The ALTERNATING large-star/small-star CC loop (Kiveris et al.)
        // driver-gated on a deterministic planted graph derived from the
        // doc_id set: 5-stars (every id attaches to its id − id%5
        // center) plus a 7-node path through the centers ≤ 150 — the
        // path forces the multi-round convergence (4 rounds) the variant
        // exists for, without re-paying d03's shingle/signature/banding
        // pipeline just to produce edges (d07 already gates that
        // composition; MinHash→alt-star label equality is spec-verified
        // in OpsSpec). The path length is SF-independent so the gate's
        // round count — and so its cost — doesn't grow with the corpus.
        val ids = Tables(s, dir).documents.select(col("doc_id"))
        val stars = ids.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") - col("doc_id") % 5).as("id_b"))
        val chain = ids.filter(col("doc_id") % 25 === 0 &&
            col("doc_id").between(25, 150))
          .select(col("doc_id").as("id_a"), (col("doc_id") - 25).as("id_b"))
        connectedComponentsAltStar(stars.union(chain))._1
          .groupBy("component")
          .agg(count(lit(1)).as("cluster_size"))
          .orderBy("component")
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT doc_id AS id_a, doc_id - doc_id % 5 AS id_b
             |    FROM documents WHERE doc_id % 5 <> 0
             |  UNION ALL
             |  SELECT doc_id, doc_id - 25
             |    FROM documents WHERE doc_id % 25 = 0 AND doc_id BETWEEN 25 AND 150),
             |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
             |        UNION ALL SELECT id_b, id_a FROM edges),
             |cc AS (
             |  SELECT DISTINCT src AS id, src AS lbl FROM sym
             |  UNION
             |  SELECT s.src, cc.lbl FROM sym s JOIN cc ON s.dst = cc.id)
             |SELECT min_lbl AS component, count(*) AS cluster_size
             |FROM (SELECT id, min(lbl) AS min_lbl FROM cc GROUP BY id)
             |GROUP BY 1 ORDER BY component""".stripMargin)),

    Q(
      "p03_neardup_pipeline",
      (s, dir) => {
        // end-to-end near-dup dedup: candidates -> components ->
        // keep one representative per cluster; one summary row
        val corpus = withNearDups(s, dir, drop = 2)
        val cc = connectedComponents(
          minHashCandidatePairs(corpus, "doc_id", "text"))
        val removedDf = cc.agg(
          coalesce(sum(when(col("id") =!= col("component"), 1L).otherwise(0L)), lit(0L))
            .cast("long").as("removed"))
        corpus.agg(count(lit(1)).as("total_docs"))
          .crossJoin(removedDf)
          .select(col("total_docs"), col("removed"),
            (col("total_docs") - col("removed")).as("surviving"))
      },
      Some(s"""WITH RECURSIVE ${shingleCtes(drop = 2)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t),
             |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
             |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |        UNION ALL SELECT id_b, id_a FROM pairs),
             |cc AS (
             |  SELECT DISTINCT src AS id, src AS lbl FROM sym
             |  UNION
             |  SELECT s.src, cc.lbl FROM sym s JOIN cc ON s.dst = cc.id),
             |resolved AS (SELECT id, min(lbl) AS component FROM cc GROUP BY id)
             |SELECT (SELECT count(*) FROM corpus) AS total_docs,
             |  CAST(coalesce(sum(CASE WHEN id <> component THEN 1 ELSE 0 END), 0) AS BIGINT) AS removed,
             |  (SELECT count(*) FROM corpus)
             |    - CAST(coalesce(sum(CASE WHEN id <> component THEN 1 ELSE 0 END), 0) AS BIGINT) AS surviving
             |FROM resolved""".stripMargin)),

    Q(
      "d05_jaccard_pairs",
      (s, dir) => {
        val d = Tables(s, dir).documents.filter(col("doc_id") < 50)
        val mutated = concat_ws(" ",
          slice(tokens(col("text")), lit(1), greatest(size(tokens(col("text"))) - 3, lit(1))))
        d.select(
          col("doc_id"),
          fround(jaccard(tokens(col("text")), tokens(mutated)), 4).as("jaccard"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  floor(len(list_distinct(list_intersect(w, w2))) * 1.0
             |    / len(list_distinct(w || w2)) * 10000.0 + 0.5) / 10000.0 AS jaccard
             |FROM (SELECT doc_id, string_split(text, ' ') AS w,
             |        string_split(text, ' ')[1:greatest(len(string_split(text, ' ')) - 3, 1)] AS w2
             |      FROM documents WHERE doc_id < 50)
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "d10_containment",
      (s, dir) => {
        // Containment dedup — the doc-INSIDE-doc signal Jaccard misses:
        // a truncated copy has containment 1.0 (its token set is a
        // subset of the original's) while its Jaccard shrinks with the
        // truncation. Candidates come from the SAME MinHash-LSH pass as
        // d03 (pairs-only cost, never all-pairs); token sets join back
        // onto the candidate pairs only. Both measures emitted for
        // contrast, quantized at 1e-4 before the hash like d05.
        val corpus = withNearDups(s, dir, drop = 3)
        // sharedScan both reused frames: the two id-keyed joins would
        // otherwise re-execute their build subtrees per broadcast —
        // the WHOLE minhash pipeline ran ~3× in the unshared plan
        // (9.3 s vs d03's 3.0 s for the same candidates at sf0.1)
        val pairs = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(
          minHashCandidatePairs(corpus, "doc_id", "text"))
        val tk = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(
          corpus.select(col("doc_id"), array_distinct(tokens(col("text"))).as("w")))
        val inter = size(array_intersect(col("wa"), col("wb"))).cast("double")
        pairs
          .join(tk.select(col("doc_id").as("id_a"), col("w").as("wa")), "id_a")
          .join(tk.select(col("doc_id").as("id_b"), col("w").as("wb")), "id_b")
          .select(col("id_a"), col("id_b"),
            fround(inter / least(size(col("wa")), size(col("wb"))), 4).as("containment"),
            fround(inter / size(array_distinct(concat(col("wa"), col("wb")))), 4).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${shingleCtes(drop = 3)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t),
             |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
             |tk AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM corpus)
             |SELECT id_a, id_b,
             |  floor(len(list_distinct(list_intersect(ta.w, tb.w))) * 1.0
             |    / least(len(ta.w), len(tb.w)) * 10000.0 + 0.5) / 10000.0 AS containment,
             |  floor(len(list_distinct(list_intersect(ta.w, tb.w))) * 1.0
             |    / len(list_distinct(ta.w || tb.w)) * 10000.0 + 0.5) / 10000.0 AS jaccard
             |FROM pairs
             |JOIN tk ta ON ta.doc_id = pairs.id_a
             |JOIN tk tb ON tb.doc_id = pairs.id_b
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "d11_minhash_estimate",
      (s, dir) => {
        // Sketch-based candidate SCORING — the reason MinHash exists:
        // the Jaccard ESTIMATE (fraction of agreeing signature
        // coordinates, E[n_agree/128] = J) is computed from the
        // fixed-width signatures ALONE, emitted next to the exact
        // shingle-set Jaccard for calibration. At 100 TB candidates are
        // scored from signatures without re-touching text, and only
        // pairs over the estimate threshold pay the exact verification
        // join. The interpreted zip_with/filter lambdas run on
        // candidate PAIRS only (d10's pairs-only argument).
        // The SIGNATURE frame (the expensive MinHash aggregate, one
        // 128-long row per doc) is computed once and shared between
        // the estimate join and the LSH pairs via sharedScan +
        // minHashCandidatePairsFromSignatures. The raw shingle rows
        // are NOT cached — the narrow codegen'd explode+hash is
        // cheaper to recompute than to materialize (measured), so the
        // token-set branch re-derives it
        val corpus = withNearDups(s, dir, drop = 3)
        val sh = shingleHashes(corpus, "doc_id", "text")
        val sigs = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(
          minHashSignatures(sh, "doc_id"))
        val sets = sh.groupBy("doc_id").agg(collect_set("h").as("hs"))
        val pairs = minHashCandidatePairsFromSignatures(sigs, "doc_id")
        val agree = size(filter(
          zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
        pairs
          .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sa")), "id_a")
          .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sb")), "id_b")
          .join(sets.select(col("doc_id").as("id_a"), col("hs").as("ha")), "id_a")
          .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hb")), "id_b")
          .select(col("id_a"), col("id_b"),
            agree.as("n_agree"),
            fround(jaccard(col("ha"), col("hb")), 4).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${shingleCtes(drop = 3)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t),
             |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
             |sets AS (SELECT doc_id, list_distinct(hs) AS hs FROM sh)
             |SELECT id_a, id_b,
             |  CAST(len(list_filter(range(128), i -> sa.sig[i + 1] = sb.sig[i + 1])) AS INT) AS n_agree,
             |  floor(len(list_distinct(list_intersect(ha.hs, hb.hs))) * 1.0
             |    / len(list_distinct(ha.hs || hb.hs)) * 10000.0 + 0.5) / 10000.0 AS jaccard
             |FROM pairs
             |JOIN sig sa ON sa.doc_id = pairs.id_a
             |JOIN sig sb ON sb.doc_id = pairs.id_b
             |JOIN sets ha ON ha.doc_id = pairs.id_a
             |JOIN sets hb ON hb.doc_id = pairs.id_b
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "d19_lsh_planner",
      (s, dir) => {
        // LSH BAND PLANNING against the observed candidate population —
        // the tuning table behind every "which (bands, rows) do we
        // re-index with?" decision: for each banding of the same 128
        // MinHash functions, the S-curve capture probability
        // p = 1 − (1 − s^r)^b evaluated at every observed candidate
        // pair's signature-estimated similarity s = n_agree/128
        // (d11's estimate — signatures only, text never re-touched),
        // summed to the EXPECTED number of caught pairs in ppm. Read
        // row-by-row it says exactly how much recall each coarser
        // banding trades for its fewer buckets. Every power is a
        // REPEATED-SQUARING chain of IEEE multiplies (r and b are
        // powers of two) — never pow(), whose libm rounding differs
        // between engines — and s = n_agree/128 is exact binary, so
        // the per-pair ppm floor replays bit-for-bit in SQL; the
        // thresholds (1/b)^(1/r) are plan-time Scala constants inlined
        // into both sides at 4dp. Pairs-only cost on top of d11's
        // machinery; the 5-config sweep is 5 aggregates over one
        // shared pairs scan.
        val corpus = withNearDups(s, dir, drop = 3)
        val sh = shingleHashes(corpus, "doc_id", "text")
        val sigs = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(
          minHashSignatures(sh, "doc_id"))
        val pairs = minHashCandidatePairsFromSignatures(sigs, "doc_id")
        val agree = size(filter(
          zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
        val est = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(
          pairs
            .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sa")), "id_a")
            .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sb")), "id_b")
            .select(agree.cast("double").as("na")))
        def sq(c: org.apache.spark.sql.Column, times: Int) =
          (1 to times).foldLeft(c)((a, _) => a * a)
        val log2 = Map(2 -> 1, 4 -> 2, 8 -> 3, 16 -> 4, 32 -> 5, 64 -> 6)
        LshPlannerGrid.map { case (b, r) =>
          val sEst = col("na") / lit(128.0)
          val p = lit(1.0) - sq(lit(1.0) - sq(sEst, log2(r)), log2(b))
          est.agg(sum(floor(p * lit(1000000.0) + lit(0.5)).cast("long"))
              .as("exp_caught_ppm"))
            .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
              lit(lshThreshold4(b, r)).as("threshold"), col("exp_caught_ppm"))
        }.reduce(_.unionAll(_)).orderBy("bands")
      },
      Some {
        def sqSql(inner: String, v: String, times: Int): String = {
          // nested single-column subselects: q -> q*q -> ... (linear
          // text, association identical to the Spark fold)
          (1 to times).foldLeft(inner) { (acc, _) =>
            s"(SELECT $v * $v AS $v FROM $acc)"
          }
        }
        val log2 = Map(2 -> 1, 4 -> 2, 8 -> 3, 16 -> 4, 32 -> 5, 64 -> 6)
        val configs = LshPlannerGrid.map { case (b, r) =>
          val srChain = sqSql("(SELECT na / 128.0 AS x FROM est)", "x", log2(r))
          val qChain = sqSql(s"(SELECT 1.0 - x AS x FROM $srChain)", "x", log2(b))
          s"""SELECT $b AS bands, $r AS rows_per_band,
             |  CAST(${lshThreshold4(b, r)} AS DOUBLE) AS threshold,
             |  (SELECT CAST(sum(CAST(floor((1.0 - x) * 1000000.0 + 0.5) AS BIGINT))
             |          AS BIGINT) FROM $qChain) AS exp_caught_ppm""".stripMargin
        }
        s"""WITH ${shingleCtes(drop = 3)},
           |$minhashSigCte,
           |bands AS (SELECT doc_id, t.range AS band,
           |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
           |  FROM sig, range(32) t),
           |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           |est AS (SELECT CAST(len(list_filter(range(128),
           |      i -> sa.sig[i + 1] = sb.sig[i + 1])) AS DOUBLE) AS na
           |  FROM pairs
           |  JOIN sig sa ON sa.doc_id = pairs.id_a
           |  JOIN sig sb ON sb.doc_id = pairs.id_b)
           |${configs.mkString("\nUNION ALL\n")}
           |ORDER BY bands""".stripMargin
      }),

    Q(
      "d08_semantic_dedup",
      (s, dir) => {
        // Composed SEMANTIC dedup at bucketed (not all-pairs) cost:
        // embeddings -> multi-table hyperplane-LSH -> bounded in-bucket
        // cosine >= τ pairs -> connected components -> survivor
        // summary. The all-pairs cosine (d06's shape) is O(N²) at
        // corpus scale; `cosineCandidatePairs` forms candidates only
        // inside equi-keyed bucket groups with count-and-split
        // occupancy bounding — the same plan that runs at 100 TB.
        // planes is the scaling knob (2^12 buckets/table here); 4
        // tables buy back recall; τ=0.3 suits the synthetic corpus
        // (random embeddings have no 0.95-cosine dups).
        val e = Tables(s, dir).embeddings
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val pairs = cosineCandidatePairs(e, "vec_id", "v",
          threshold = 0.3, dim = 64, planes = 12, tables = 4, seed = 5)
        val cc = connectedComponents(pairs)
        val removedDf = cc.agg(
          coalesce(sum(when(col("id") =!= col("component"), 1L).otherwise(0L)), lit(0L))
            .cast("long").as("removed"))
        e.agg(count(lit(1)).as("total_vecs"))
          .crossJoin(removedDf)
          .select(col("total_vecs"), col("removed"),
            (col("total_vecs") - col("removed")).as("surviving"))
      },
      Some(s"""WITH RECURSIVE e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |kb AS (
             |  ${(0 until 4).map(t =>
                  s"SELECT vec_id, v, $t AS tbl, " +
                  OracleSql.hyperplaneBucket("v", dim = 64, planes = 12, seed = 5 + t) +
                  " AS bucket FROM e").mkString("\n  UNION ALL\n  ")}),
             |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             |  FROM kb a JOIN kb b
             |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
             |  WHERE list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             |         * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= 0.3),
             |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |        UNION ALL SELECT id_b, id_a FROM pairs),
             |cc AS (
             |  SELECT DISTINCT src AS id, src AS lbl FROM sym
             |  UNION
             |  SELECT s.src, cc.lbl FROM sym s JOIN cc ON s.dst = cc.id),
             |resolved AS (SELECT id, min(lbl) AS component FROM cc GROUP BY id)
             |SELECT (SELECT count(*) FROM e) AS total_vecs,
             |  CAST(coalesce(sum(CASE WHEN id <> component THEN 1 ELSE 0 END), 0) AS BIGINT) AS removed,
             |  (SELECT count(*) FROM e)
             |    - CAST(coalesce(sum(CASE WHEN id <> component THEN 1 ELSE 0 END), 0) AS BIGINT) AS surviving
             |FROM resolved""".stripMargin)),

    Q(
      "d12_dup_rate_by_source",
      (s, dir) => {
        // Per-source duplication accounting — the triage metric that
        // drives source weighting/exclusion decisions: for each source,
        // how many docs there are, how many survive exact dedup, and
        // the duplicate rate (corpus has planted copies under shifted
        // ids so the rates are non-trivial). One md5-keyed aggregate
        // per source — keys shuffle, documents don't.
        val d = Tables(s, dir).documents.select("doc_id", "source", "text")
        val corpus = d.union(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text")))
        corpus
          .select(col("source"), md5(col("text").cast("binary")).as("k"))
          .groupBy("source", "k").agg(count(lit(1)).as("n"))
          .groupBy("source")
          .agg(sum("n").cast("long").as("n_docs"),
            count(lit(1)).as("n_unique"),
            fround(lit(1.0) - count(lit(1)).cast("double") / sum("n"), 4).as("dup_rate"))
          .orderBy("source")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, source, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, source, text FROM documents WHERE doc_id < 50),
             |per_key AS (SELECT source, md5(text) AS k, count(*) AS n
             |  FROM corpus GROUP BY 1, 2)
             |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
             |  count(*) AS n_unique,
             |  floor((1.0 - count(*) * 1.0 / sum(n)) * 10000.0 + 0.5) / 10000.0 AS dup_rate
             |FROM per_key GROUP BY source ORDER BY source""".stripMargin)),

    Q(
      "d13_paragraph_dedup",
      (s, dir) => {
        // Sub-document boilerplate removal (C4's three-sentence rule /
        // RefinedWeb line-dedup, positional 10-token chunks here):
        // every distinct chunk keeps its first occurrence in corpus
        // order, documents reassemble from survivors. Planted full
        // copies under shifted ids (d01's trick) must come back with
        // n_kept = 0 and empty text; the small shared vocabulary also
        // makes ORGANIC cross-doc chunk collisions, so the oracle
        // checks real partial rewrites, not just the planted ones.
        // md5 is the oracle-critical piece: the winner census and join
        // key on the engine-portable 52-bit md5 plane, replayed in SQL.
        val d = Tables(s, dir).documents.select("doc_id", "text")
        val corpus = d.union(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        graft.ops.Dedup.paragraphDedup(corpus, "doc_id", "text", w = 10)
          .orderBy("doc_id")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
             |chunks AS (SELECT doc_id, ci,
             |    array_to_string(t[ci*10+1 : ci*10+10], ' ') AS chunk
             |  FROM (SELECT doc_id, t, unnest(range((len(t) + 9) // 10)) AS ci
             |        FROM toks)),
             |hashed AS (SELECT doc_id, ci, chunk,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(13), j -> CAST(strpos('0123456789abcdef',
             |        substr(md5(chunk), j + 1, 1)) - 1 AS BIGINT))),
             |      (a, c) -> a * 16 + c) AS h
             |  FROM chunks),
             |winners AS (SELECT h, min(doc_id * 1000000 + ci) AS wkey
             |  FROM hashed GROUP BY h),
             |kept AS (SELECT doc_id, ci, chunk FROM hashed JOIN winners USING (h)
             |  WHERE doc_id * 1000000 + ci = wkey),
             |perdoc AS (SELECT doc_id, count(*) AS n_chunks FROM hashed
             |  GROUP BY doc_id),
             |keptdoc AS (SELECT doc_id, count(*) AS n_kept,
             |    string_agg(chunk, ' ' ORDER BY ci) AS cleaned_text
             |  FROM kept GROUP BY doc_id)
             |SELECT p.doc_id, p.n_chunks,
             |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
             |  coalesce(k.cleaned_text, '') AS cleaned_text
             |FROM perdoc p LEFT JOIN keptdoc k USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "d14_cluster_representatives",
      (s, dir) => {
        // Quality-aware "which copy to keep": d07's clusters crowned
        // by token count (C4 keeps the LONGEST of a duplicate set,
        // not the first id). The planted near-dups are truncated
        // copies, so every planted cluster's representative is the
        // ORIGINAL — min-id-wins (dedupeCorpus' policy) would pick
        // the same id here only by accident of the fixture; the
        // argmax is by (score desc, id asc), a total order replayed
        // by the oracle's window. Aggregate argmax, no windows in
        // the Spark plan.
        val corpus = withNearDups(s, dir, drop = 3)
        graft.ops.Dedup.clusterRepresentatives(corpus, "doc_id", "text",
            score = size(split(col("text"), " ")))
          .orderBy("component")
      },
      Some(s"""WITH RECURSIVE ${shingleCtes(drop = 3)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t),
             |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
             |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |        UNION ALL SELECT id_b, id_a FROM pairs),
             |cc AS (
             |  SELECT DISTINCT src AS id, src AS lbl FROM sym
             |  UNION
             |  SELECT s.src, cc.lbl FROM sym s JOIN cc ON s.dst = cc.id),
             |lbl AS (SELECT id, min(lbl) AS component FROM cc GROUP BY id),
             |scored AS (SELECT l.component, l.id,
             |    CAST(len(string_split(c.text, ' ')) AS BIGINT) AS score
             |  FROM lbl l JOIN corpus c ON c.doc_id = l.id),
             |ranked AS (SELECT component, id, score,
             |    count(*) OVER (PARTITION BY component) AS cluster_size,
             |    row_number() OVER (PARTITION BY component
             |      ORDER BY score DESC, id) AS rn
             |  FROM scored)
             |SELECT component, id AS rep_id, score AS rep_score,
             |  cluster_size FROM ranked WHERE rn = 1
             |ORDER BY component""".stripMargin)),

    Q(
      "d06_embedding_neardup",
      (s, dir) => {
        val e = Tables(s, dir).embeddings.filter(col("vec_id") < 100)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        a.crossJoin(broadcast(b))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.ops.Similarity.cosine(col("va"), col("vb")).as("cos"))
          .filter(col("cos") > 0.3)
          .select(col("id_a"), col("id_b"), fround(col("cos"), 4).as("cos"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id < 100),
             |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             |         * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |SELECT id_a, id_b, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos FROM p
             |WHERE cos > 0.3 ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "st01_stream_minhash_pairs",
      (s, dir) => {
        // The STREAMING MinHash-LSH twin under the DuckDB oracle: the
        // d03 corpus arrives as two id-ordered MemoryStream
        // micro-batches with advancing event time, flows through
        // DedupStream.candidatePairs (row-local signing, fMGWS bucket
        // state), and the drained memory sink must hash-match d03's
        // batch oracle — cross-batch pairs exercise real bucket state.
        // The collect() here is the MemoryStream FEEDING HARNESS, not
        // the operator: MemoryStream is driver-side by construction
        // (it exists to gate streaming flows); production uses
        // readStream sources. Signature/banding parity with batch is
        // additionally spec'd bit-for-bit in DedupStreamSpec.
        import graft.streaming.DedupStream
        implicit val sqlCtx = s.sqlContext
        implicit val docEnc = org.apache.spark.sql.Encoders.product[DedupStream.Doc]
        // corpus capped at 500 base docs (+ the 50 planted dups at ids
        // 1000000..1000049): the gate proves cross-batch bucket-state
        // correctness, which needs shared buckets across chunks, not
        // sf-scaled volume — at sf0.1 the uncapped harness spent
        // 10 s/sweep on state-store commits for 160k bucket keys while
        // proving nothing extra. The planted range's UPPER bound matters
        // too: ScaleGen replicas offset doc_id by r*1e7, so an open
        // `>= 1000000` admitted every replica doc at sf1 (45k-doc
        // harness, 18.5 s) instead of the intended ~550
        val rows = withNearDups(s, dir, drop = 3)
          .filter(col("doc_id") < 500 ||
            (col("doc_id") >= 1000000L && col("doc_id") < 1000050L))
          .select(col("doc_id").cast("long"), col("text"))
          .orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[DedupStream.Doc]
        // two micro-batches: the minimum that still proves cross-batch
        // bucket state (pairs whose docs arrive in different batches);
        // each extra batch costs a full state-store commit cycle
        val chunk = math.max(1, (rows.length + 1) / 2)
        val pairs = StreamReplay(s,
            DedupStream.candidatePairs(stream.toDS(), watermark = "10 minutes"),
            "st01_pairs")(
          rows.grouped(chunk).zipWithIndex.map { case (batch, i) => () =>
            stream.addData(batch.map { case (id, t) =>
              DedupStream.Doc(id, t,
                java.sql.Timestamp.valueOf(f"2024-01-01 10:$i%02d:00"))
            })
          })
        // at-least-once per shared bucket -> distinct restores exactly-once
        pairs.select("id_a", "id_b").distinct()
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${shingleCtes(drop = 3, cap = 500L)},
             |$minhashSigCte,
             |bands AS (SELECT doc_id, t.range AS band,
             |    md5(array_to_string(list_slice(sig, t.range * 4 + 1, t.range * 4 + 4), ',')) AS bucket
             |  FROM sig, range(32) t)
             |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |FROM bands a JOIN bands b
             |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "st12_stream_exact_dedup",
      (s, dir) => {
        // Streaming EXACT first-seen dedup under the DuckDB oracle:
        // d01's semantics on Spark's own dropDuplicatesWithinWatermark
        // stateful operator (fingerprint-keyed state, watermark GC).
        // Corpus = the 300 base docs (all distinct texts) arriving as
        // batch 1, then batch 2 replays the first 60 texts under new
        // ids (+2e6) — those survive ONLY if batch-1 fingerprint state
        // was lost, so the gate proves cross-batch state retention:
        // the oracle is exactly the 300 originals. Each fingerprint
        // appears at most once per micro-batch, so "first seen" is
        // deterministic under any partitioning. collect() is the
        // MemoryStream feeding harness; production uses readStream.
        import graft.streaming.DedupStream
        implicit val sqlCtx = s.sqlContext
        implicit val docEnc = org.apache.spark.sql.Encoders.product[DedupStream.Doc]
        val base = Tables(s, dir).documents
          .filter(col("doc_id") < 300)
          .select(col("doc_id").cast("long"), col("text"))
          .orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val replays = base.take(60).map { case (id, t) => (id + 2000000L, t) }
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[DedupStream.Doc]
        StreamReplay(s,
            DedupStream.firstSeen(stream.toDS(), watermark = "10 minutes"),
            "st12_kept")(
          Seq(base, replays).zipWithIndex.map { case (batch, i) => () =>
            stream.addData(batch.map { case (id, t) =>
              DedupStream.Doc(id, t,
                java.sql.Timestamp.valueOf(f"2024-01-01 10:$i%02d:00"))
            })
          })
          .select("doc_id", "fp").distinct()
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS fp FROM documents
             |WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    Q(
      "st13_stream_fuzzy_match",
      (s, dir) => {
        // Streaming fuzzy ENTITY MATCHING under the DuckDB oracle:
        // r03's symmetric-delete signatures as a stream — arrivals
        // match edit-distance-1 against everything seen, per-key state
        // is the FIRST owner only (O(|s|), the star rule), so the
        // oracle is the per-key min-id owner join. Records arrive as
        // two id-ordered micro-batches; batch-2 names matching batch-1
        // owners only pair if key state survived the boundary.
        // collect() is the MemoryStream feeding harness.
        import graft.streaming.FuzzyStream
        implicit val sqlCtx = s.sqlContext
        implicit val recEnc = org.apache.spark.sql.Encoders.product[FuzzyStream.Rec]
        val rows = Tables(s, dir).customer
          .filter(col("c_custkey") < 1000)
          .select(col("c_custkey").cast("long"), col("c_name"))
          .orderBy("c_custkey")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[FuzzyStream.Rec]
        val chunk = math.max(1, (rows.length + 1) / 2)
        val matches = StreamReplay(s,
            FuzzyStream.matches(stream.toDS(), watermark = "10 minutes"),
            "st13_matches")(
          rows.grouped(chunk).zipWithIndex.map { case (batch, i) => () =>
            stream.addData(batch.map { case (id, n) =>
              FuzzyStream.Rec(id, n,
                java.sql.Timestamp.valueOf(f"2024-01-01 10:$i%02d:00"))
            })
          })
        // once per shared key -> distinct restores exactly-once
        matches.distinct().orderBy("id_a", "id_b")
      },
      Some("""WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer
             |           WHERE c_custkey < 1000),
             |raw AS (SELECT id, s, unnest(range(1, length(s) + 1)) AS i FROM c),
             |el AS (SELECT id, 0 AS pos, '' AS ch, s AS key FROM c
             |       UNION ALL
             |       SELECT id, CAST(i AS INT) AS pos,
             |              substr(s, CAST(i AS INT), 1) AS ch,
             |              substr(s, 1, CAST(i AS INT) - 1)
             |                || substr(s, CAST(i AS INT) + 1) AS key
             |       FROM raw),
             |own AS (SELECT key, min(id) AS owner FROM el GROUP BY key)
             |SELECT DISTINCT o.owner AS id_a, e.id AS id_b,
             |  CASE WHEN oe.pos = 0 AND e.pos = 0 THEN 0 ELSE 1 END AS dist
             |FROM el e JOIN own o ON e.key = o.key AND e.id > o.owner
             |JOIN el oe ON oe.key = e.key AND oe.id = o.owner
             |WHERE (oe.pos = 0 AND e.pos = 0)
             |   OR (oe.pos = e.pos AND oe.ch <> e.ch)
             |   OR ((oe.pos = 0) <> (e.pos = 0))
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "st04_stream_semantic_dedup",
      (s, dir) => {
        // The STREAMING semantic near-dup twin under the DuckDB oracle
        // (st01's pattern): d08's hyperplane-LSH candidate generation,
        // with vectors arriving as two id-ordered MemoryStream
        // micro-batches through SemanticDedupStream.candidatePairs
        // (per-(table, bucket) fMGWS state holding ids AND vectors for
        // the exact in-bucket cosine recheck). Cross-batch pairs — a
        // batch-2 vector landing in a bucket whose mate arrived in
        // batch 1 — only emit if the bucket state persisted. Corpus =
        // the 500 base vectors (vec_id < 500, SF-independent: ScaleGen
        // replicas sit at r*1e7). collect() is the MemoryStream
        // feeding harness; production uses readStream. Identical
        // params to d08 (τ=0.3, 2^12 buckets, 4 tables, seed 5), so
        // the oracle is d08's pairs CTE on the capped corpus.
        import graft.streaming.SemanticDedupStream
        implicit val sqlCtx = s.sqlContext
        implicit val vEnc = org.apache.spark.sql.Encoders.product[SemanticDedupStream.Vec]
        val rows = Tables(s, dir).embeddings
          .filter(col("vec_id") < 500)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .orderBy("vec_id")
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[SemanticDedupStream.Vec]
        val chunk = math.max(1, (rows.length + 1) / 2)
        val pairs = StreamReplay(s,
            SemanticDedupStream.candidatePairs(stream.toDS(),
              threshold = 0.3, dim = 64, planes = 12, tables = 4, seed = 5L),
            "st04_pairs")(
          rows.grouped(chunk).zipWithIndex.map { case (batch, i) => () =>
            stream.addData(batch.map { case (id, v) =>
              SemanticDedupStream.Vec(id, v,
                java.sql.Timestamp.valueOf(f"2024-01-01 10:$i%02d:00"))
            })
          })
        // at-least-once per shared bucket -> distinct restores exactly-once
        pairs
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
          .distinct()
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id < 500),
             |kb AS (
             |  ${(0 until 4).map(t =>
                  s"SELECT vec_id, v, $t AS tbl, " +
                  OracleSql.hyperplaneBucket("v", dim = 64, planes = 12, seed = 5 + t) +
                  " AS bucket FROM e").mkString("\n  UNION ALL\n  ")})
             |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM kb a JOIN kb b
             |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
             |WHERE list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
             |    / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             |       * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= 0.3
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "d16_dupspan_removal",
      (s, dir) => {
        // ExactSubstr at the overlapping-window grain: every 8-token
        // window occurring more than once in the corpus marks all its
        // positions in every NON-FIRST occurrence; documents rewrite
        // keeping only unmarked tokens. Planted remixes for doc_id<40
        // embed the original's first-12-token span between per-id
        // unique filler words: the span's interior windows repeat, so
        // the remix must come back with exactly that span removed and
        // its fillers kept — a PARTIAL rewrite d13's disjoint-chunk
        // grain can miss when the span straddles a chunk boundary.
        // The small shared vocabulary also makes organic cross-doc
        // 8-gram repeats, which the oracle replays identically.
        val d = Tables(s, dir).documents.select("doc_id", "text")
        val corpus = d.union(d.filter(col("doc_id") < 40).select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ",
            concat(lit("u"), col("doc_id"), lit("a")),
            concat_ws(" ", slice(split(col("text"), " "), 1, 12)),
            concat(lit("u"), col("doc_id"), lit("b"))).as("text")))
        graft.ops.Dedup.dupSpanRemoval(corpus, "doc_id", "text", w = 8)
          .orderBy("doc_id")
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000,
             |    'u' || CAST(doc_id AS VARCHAR) || 'a ' ||
             |    array_to_string(string_split(text, ' ')[1:12], ' ') ||
             |    ' u' || CAST(doc_id AS VARCHAR) || 'b'
             |  FROM documents WHERE doc_id < 40),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
             |win AS (SELECT doc_id, i,
             |    ${OracleSql.md5Fold52("array_to_string(t[i : i + 7], ' ')")} AS h
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
             |        FROM toks WHERE len(t) >= 8)),
             |census AS (SELECT h, min(doc_id * 1000000 + i) AS wkey,
             |    count(*) AS nocc FROM win GROUP BY h),
             |cov AS (SELECT DISTINCT doc_id, i + j AS p
             |  FROM win JOIN census USING (h)
             |  CROSS JOIN (SELECT unnest(range(8)) AS j)
             |  WHERE nocc > 1 AND doc_id * 1000000 + i <> wkey),
             |covdoc AS (SELECT doc_id, list_sort(list(p)) AS cov
             |  FROM cov GROUP BY doc_id)
             |SELECT t.doc_id,
             |  CAST(len(t.t) AS BIGINT) AS n_tokens,
             |  CAST(coalesce(len(c.cov), 0) AS BIGINT) AS dup_tokens,
             |  CAST(floor(coalesce(len(c.cov), 0) * 1000000.0 / len(t.t) + 0.5)
             |    AS BIGINT) AS dup_ppm,
             |  coalesce(array_to_string(list_transform(
             |    list_filter(range(1, len(t.t) + 1),
             |      p -> NOT coalesce(list_contains(c.cov, p), FALSE)),
             |    p -> t.t[p]), ' '), '') AS cleaned_text
             |FROM toks t LEFT JOIN covdoc c USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "d17_charspan_removal",
      (s, dir) => {
        // ExactSubstr at CHARACTER grain (Dedup.charSpanRemoval, w=20):
        // the sub-token-window pass that catches short boilerplate
        // SNIPPETS d16's 8-token grain is blind to. Planted remixes
        // for doc_id < 40 splice the original's first 25 CHARACTERS —
        // about 4 words, well under any 8-token window — between
        // per-id unique markers: the snippet's 6 interior char-windows
        // repeat, so the remix comes back with exactly those 25
        // characters excised while d16 on the same corpus would leave
        // them untouched. The shared word salad also repeats 20-char
        // runs organically across documents; the oracle replays the
        // census, marking, and character-merge rewrite identically.
        val d = Tables(s, dir).documents.select("doc_id", "text")
        val corpus = d.union(d.filter(col("doc_id") < 40).select(
          (col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("x"), col("doc_id"), lit(" "),
            substring(col("text"), 1, 25),
            lit(" y"), col("doc_id")).as("text")))
        graft.ops.Dedup.charSpanRemoval(corpus, "doc_id", "text", w = 20)
          .orderBy("doc_id")
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 2000000,
             |    'x' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 1, 25)
             |      || ' y' || CAST(doc_id AS VARCHAR)
             |  FROM documents WHERE doc_id < 40),
             |win AS (SELECT doc_id, i,
             |    ${OracleSql.md5Fold52("substr(text, CAST(i AS INT), 20)")} AS h
             |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 18)) AS i
             |        FROM corpus WHERE length(text) >= 20)),
             |census AS (SELECT h, min(doc_id * 1000000 + i) AS wkey,
             |    count(*) AS nocc FROM win GROUP BY h),
             |cov AS (SELECT DISTINCT doc_id, i + j AS p
             |  FROM win JOIN census USING (h)
             |  CROSS JOIN (SELECT unnest(range(20)) AS j)
             |  WHERE nocc > 1 AND doc_id * 1000000 + i <> wkey),
             |covdoc AS (SELECT doc_id, list_sort(list(p)) AS cov
             |  FROM cov GROUP BY doc_id)
             |SELECT c.doc_id,
             |  CAST(length(c.text) AS BIGINT) AS n_chars,
             |  CAST(coalesce(len(v.cov), 0) AS BIGINT) AS dup_chars,
             |  CAST(floor(coalesce(len(v.cov), 0) * 1000000.0
             |    / greatest(length(c.text), 1) + 0.5) AS BIGINT) AS dup_ppm,
             |  coalesce(array_to_string(list_transform(
             |    list_filter(range(1, length(c.text) + 1),
             |      p -> NOT coalesce(list_contains(v.cov, p), FALSE)),
             |    p -> substr(c.text, CAST(p AS INT), 1)), ''), '')
             |    AS cleaned_text
             |FROM corpus c LEFT JOIN covdoc v USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "d21_decontamination",
      (s, dir) => {
        // Benchmark DECONTAMINATION (Brown et al. 2020 appendix C —
        // the GPT-3 13-gram eval-overlap rule): a training document
        // sharing any verbatim 13-token window with the held-out eval
        // split is contaminated and must be flagged before training.
        // d15 audits NEAR-dup pairs straddling a split; this is the
        // complementary EXACT rule every published pipeline applies
        // against its benchmark suite. Corpus = the planted near-dup
        // frame, split by p06's hash rule — a planted pair straddling
        // train/test shares all its interior 13-grams, so positives
        // are guaranteed while the 20-word salad makes organic
        // 13-gram collisions essentially impossible. The eval side's
        // distinct shingle set is benchmark-sized and BROADCASTS; the
        // train side is one narrow shingle pass + one per-doc
        // aggregate — no corpus×corpus join at any scale.
        import graft.ops.TextAnalysis.hashSplit
        val corpus = withNearDups(s, dir, drop = 3)
          .select(col("doc_id"), col("text"),
            hashSplit(col("doc_id")).as("split"))
        benchmarkDecontamination(
            corpus.filter(col("split") === "train").select("doc_id", "text"),
            corpus.filter(col("split") === "test").select("doc_id", "text"),
            "doc_id", "text", n = 13)
          .orderBy("doc_id")
      },
      Some(decontOracleSql("split = 'train'"))),

    Q(
      "st40_stream_decontamination",
      (s, dir) => {
        // STREAMING decontamination — d21's rule applied at ingest
        // (the screening-at-crawl deployment: the benchmark's shingle
        // set is a fixed KB-scale artifact, frozen once and shipped
        // in the closure like st26's λ table and st28's banned
        // chunks; every arriving candidate document is scanned ONCE
        // natively — sliding 13-token windows digested in place,
        // distinct-counted, binary-searched — and flagged before
        // storage decides). Stateless append, bit-matching d21's
        // batch census on the same universe. Universe capped ABSOLUTE
        // (doc_id < 2000, st13's discipline); planted dups stay in
        // the EVAL artifact, so the originals arriving on the stream
        // are exactly the contaminated ones. collect() is the
        // MemoryStream feeding harness; production uses readStream.
        import graft.ops.TextAnalysis.hashSplit
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val corpus = withNearDups(s, dir, drop = 3)
          .select(col("doc_id"), col("text"),
            hashSplit(col("doc_id")).as("split"))
        val banned = evalShingleFreeze(
          corpus.filter(col("split") === "test"), "doc_id", "text", n = 13)
        val rows = corpus
          .filter(col("split") === "train" && col("doc_id") < 2000)
          .orderBy("doc_id").select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val decon = stream.toDS().toDF("doc_id", "text")
          .select(col("doc_id"),
            graft.functions.VectorExpressions
              .ngramHashHits(col("text"), 13, banned).as("nh"))
          .select(col("doc_id"),
            element_at(col("nh"), 1).as("total_ngrams"),
            element_at(col("nh"), 2).as("dirty_ngrams"))
          .filter(col("dirty_ngrams") > 0)
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s, decon, "st40_decon")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("doc_id")
      },
      Some(decontOracleSql("split = 'train' AND doc_id < 2000")))
  )

  /** d21/st40's shared oracle: the planted corpus, p06's md5 split
    * rule, every doc's DISTINCT sliding 13-gram md5-52 hashes
    * (`OracleSql.md5Fold52` — the identical 52-bit integers
    * `ngramHashes52` and the native ingest probe compute), the eval
    * split's distinct shingle set, and the per-train-doc total/dirty
    * census over `trainFilter`'s universe. */
  private def decontOracleSql(trainFilter: String): String = {
    val gram13 = "array_to_string(w[i + 1:i + 13], ' ')"
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    array_to_string(string_split(text, ' ')[1:greatest(len(string_split(text, ' ')) - 3, 1)], ' ')
       |  FROM documents WHERE doc_id < 50),
       |labeled AS (SELECT doc_id, text,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
       |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM corpus),
       |toks AS (SELECT doc_id, split, string_split(text, ' ') AS w FROM labeled),
       |ng AS (SELECT doc_id, split,
       |    list_transform(range(len(w) - 12), i -> ${OracleSql.md5Fold52(gram13)}) AS hs
       |  FROM toks WHERE len(w) >= 13),
       |ex AS (SELECT DISTINCT doc_id, split, h
       |  FROM (SELECT doc_id, split, unnest(hs) AS h FROM ng)),
       |evalng AS (SELECT DISTINCT h FROM ex WHERE split = 'test'),
       |trainng AS (SELECT doc_id, h FROM ex WHERE $trainFilter)
       |SELECT t.doc_id,
       |  CAST(count(*) AS BIGINT) AS total_ngrams,
       |  CAST(count(e.h) AS BIGINT) AS dirty_ngrams
       |FROM trainng t LEFT JOIN evalng e USING (h)
       |GROUP BY 1 HAVING count(e.h) > 0 ORDER BY 1""".stripMargin
  }

}
