package graft.queries

import org.apache.spark.sql.functions._

import graft.tables.Tables

/**
 * Corpus-curation operators, round-12 third pack: the full Gopher
 * rule battery as a per-document audit (t30), DSIR hashed importance
 * weights (t31) with their score-at-ingest streaming twin (st26),
 * corpus-frequency boilerplate removal at chunk grain (d18 — the
 * C4/RefinedWeb cleaning rule d13's keep-first dedup is not),
 * prototype-distance cluster pruning (p16 — the SSL-prototype /
 * density-based data-pruning shape), and a Z-order layout audit (l15 —
 * the multi-dimensional clustering math behind OPTIMIZE ZORDER,
 * quantified against a linear sort on the same rows).
 */
object CorpusOps3 {

  /** t16's quality gate, the shared "trusted slice" predicate (t25/t29
    * train on it; t31 targets it). Kept textually identical to the
    * other call sites — d15's leakage-audit rule: thresholds must
    * never drift between call sites. */
  private def gate = {
    val nTok = size(split(col("text"), " "))
    val alphaRatio =
      (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
        .cast("double") / length(col("text"))
    val stopHits = size(filter(split(col("text"), " "),
      t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
    nTok.between(10, 100000) && alphaRatio >= 0.6 && stopHits >= lit(2)
  }

  private val gateSql =
    """(len(string_split(text, ' ')) BETWEEN 10 AND 100000
      | AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
      |   / length(text) >= 0.6
      | AND len(list_filter(string_split(text, ' '),
      |   x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2)""".stripMargin

  /** The DuckDB fold of [[graft.functions.VectorExpressions.md5Hash52]]
    * (d13's oracle idiom): first 13 hex chars of md5 as a base-16 long. */
  private def md5FoldSql(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(13), j -> CAST(strpos('0123456789abcdef',
       |        substr(md5($expr), j + 1, 1)) - 1 AS BIGINT))),
       |      (a, c) -> a * 16 + c)""".stripMargin

  /** t31's oracle over a filtered slice — parameterized so st26 can
    * replay the identical model under its absolute feed cap. */
  def dsirOracleSql(docFilter: String): String =
    s"""WITH d AS (SELECT doc_id, text, $gateSql AS tgt
       |  FROM documents WHERE $docFilter),
       |bt AS (SELECT doc_id, CAST(tgt AS BIGINT) AS tgt,
       |    ${md5FoldSql("tok")} % 512 AS b
       |  FROM (SELECT doc_id, tgt, unnest(list_filter(string_split(text, ' '),
       |          t -> length(t) > 0)) AS tok FROM d)),
       |census AS (SELECT b, sum(tgt) AS ct, count(*) AS cr FROM bt GROUP BY b),
       |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM census),
       |lam AS (SELECT r.b,
       |    CAST(floor(ln((coalesce(ct, 0) + 1) * 1.0 / (nt + 512)) * 1000000.0
       |      + 0.5) AS BIGINT)
       |    - CAST(floor(ln((coalesce(cr, 0) + 1) * 1.0 / (nr + 512)) * 1000000.0
       |      + 0.5) AS BIGINT) AS lam
       |  FROM (SELECT unnest(range(512)) AS b) r
       |  LEFT JOIN census ON r.b = census.b CROSS JOIN tot)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(lam) AS BIGINT) AS dsir_unats
       |FROM bt JOIN lam USING (b) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Seq[Q] = Seq(

    Q(
      "t30_gopher_rules",
      (s, dir) => {
        // The Gopher quality-rule battery (Rae et al. 2021, Table A1)
        // as a per-document AUDIT: each rule is its own flag column so
        // a curation team sees WHICH rule rejects, not just that one
        // did — the operational difference between this and t16's
        // composite gate. Rules: word count 50–100k; mean word length
        // 3–10 (integer form: 3n <= chars <= 10n with chars = len −
        // n + 1 under single-space joining); >= 80% of words contain
        // an alphabetic character (one native regexp_count scan of the
        // whole text — not a per-token lambda); >= 2 distinct
        // stopwords present (array_intersect, which dedups on both
        // engines); and the repetition family via t24's exact-ppm
        // n-gram coverage (top 2-gram <= 20%, top 3-gram <= 18%,
        // duplicated 5-grams <= 60% of character mass). Gopher's
        // line-grain rules (bullet/ellipsis starts) are out of scope:
        // this corpus carries no line structure. Everything is one
        // narrow scan plus t24's map-side-combinable gram censuses —
        // per-rule pass rates at 100 TB cost one aggregate more.
        val d = Tables(s, dir).documents
        val base = d.select(col("doc_id") +:
          graft.ops.TextAnalysis.gopherScalarFlags(col("text"))
            .map { case (nm, c) => c.as(nm) }: _*)
        val rep = graft.ops.TextAnalysis.ngramCoverage(d, "doc_id", "text")
        base.join(rep, Seq("doc_id"), "left")
          .select(col("doc_id"), col("wc_ok"), col("mwl_ok"),
            col("alpha_ok"), col("stop_ok"),
            (coalesce(col("top2_ppm"), lit(0L)) <= 200000L &&
             coalesce(col("top3_ppm"), lit(0L)) <= 180000L &&
             coalesce(col("dup5_ppm"), lit(0L)) <= 600000L)
              .cast("int").as("rep_ok"))
          .withColumn("pass",
            (col("wc_ok") * col("mwl_ok") * col("alpha_ok") * col("stop_ok")
              * col("rep_ok")).cast("int"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
             |    CAST(length(text) AS BIGINT) AS n_chars, text FROM documents),
             |g2 AS (SELECT doc_id, g, count(*) AS cnt FROM (
             |    SELECT doc_id, w[i] || ' ' || w[i+1] AS g
             |    FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
             |          FROM d WHERE len(w) >= 2)) GROUP BY 1, 2),
             |g3 AS (SELECT doc_id, g, count(*) AS cnt FROM (
             |    SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
             |    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
             |          FROM d WHERE len(w) >= 3)) GROUP BY 1, 2),
             |g5 AS (SELECT doc_id, g, count(*) AS cnt FROM (
             |    SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
             |        || w[i+3] || ' ' || w[i+4] AS g
             |    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
             |          FROM d WHERE len(w) >= 5)) GROUP BY 1, 2),
             |c2 AS (SELECT doc_id, max(cnt * length(g)) AS c2 FROM g2 GROUP BY 1),
             |c3 AS (SELECT doc_id, max(cnt * length(g)) AS c3 FROM g3 GROUP BY 1),
             |c5 AS (SELECT doc_id, sum(cnt * length(g)) AS c5 FROM g5
             |       WHERE cnt >= 2 GROUP BY 1),
             |rep AS (SELECT d.doc_id,
             |    coalesce(c2, 0) * 1000000 // n_chars AS top2_ppm,
             |    coalesce(c3, 0) * 1000000 // n_chars AS top3_ppm,
             |    coalesce(c5, 0) * 1000000 // n_chars AS dup5_ppm
             |  FROM d LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
             |    LEFT JOIN c5 USING (doc_id)),
             |flags AS (SELECT d.doc_id,
             |    CAST(len(w) BETWEEN 50 AND 100000 AS INT) AS wc_ok,
             |    CAST(n_chars - len(w) + 1 >= 3 * len(w)
             |      AND n_chars - len(w) + 1 <= 10 * len(w) AS INT) AS mwl_ok,
             |    CAST(5 * len(regexp_extract_all(text,
             |      '(?:^| )[^ ]*[A-Za-z][^ ]*')) >= 4 * len(w) AS INT) AS alpha_ok,
             |    CAST(len(list_intersect(w,
             |      ['the','a','of','and','to','in','is','it'])) >= 2 AS INT)
             |      AS stop_ok,
             |    CAST(top2_ppm <= 200000 AND top3_ppm <= 180000
             |      AND dup5_ppm <= 600000 AS INT) AS rep_ok
             |  FROM d JOIN rep ON d.doc_id = rep.doc_id)
             |SELECT doc_id, wc_ok, mwl_ok, alpha_ok, stop_ok, rep_ok,
             |  wc_ok * mwl_ok * alpha_ok * stop_ok * rep_ok AS pass
             |FROM flags ORDER BY doc_id""".stripMargin)),

    Q(
      "t31_dsir_weights",
      (s, dir) => {
        // DSIR importance weights (Xie et al. 2023): every document
        // scored by how much more likely its hashed token-bucket
        // stream is under the TARGET distribution (the t16-gated
        // trusted slice — deterministic, the t29/t25 convention) than
        // under the raw corpus — the importance-resampling selection
        // signal that picks "looks like the target domain" data
        // without training a model. One census pass builds both
        // distributions (target membership is a boolean column); the
        // λ table is 512 rows however large the corpus and rides the
        // broadcast plane; each log quantizes to integer micro-nats
        // separately so the per-doc Σλ folds exactly in any engine
        // and order (TextAnalysis.dsirFit/Weights).
        val d = Tables(s, dir).documents
        val lam = graft.ops.TextAnalysis.dsirFit(d, "text", gate, buckets = 512)
        graft.ops.TextAnalysis.dsirWeights(d, "doc_id", "text", lam, 512)
          .orderBy("doc_id")
      },
      Some(dsirOracleSql("TRUE"))),

    Q(
      "st26_stream_dsir",
      (s, dir) => {
        // STREAMING DSIR annotation — t31's λ table frozen and applied
        // at ingest (the selection-at-crawl deployment: fit offline on
        // the trusted slice, ship the 512-long array, every arriving
        // doc annotated with its importance weight before storage
        // decides). The stream scores each doc in ONE native token
        // scan (graftshim.DsirScore: md5 bucket probe + λ array index
        // per token — never an interpreted HOF fold) as a stateless
        // append whose drained sink hash-matches the capped t31
        // oracle. Universe capped absolute (st18/st25's discipline —
        // a deployed λ is a fixed artifact; the MemoryStream harness
        // must not scale with SF).
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val d = Tables(s, dir).documents.filter(col("doc_id") < 2000)
        val lamDf = graft.ops.TextAnalysis.dsirFit(d, "text", gate, buckets = 512)
        val lam = graft.ops.TextAnalysis.dsirFreeze(lamDf, 512)
        val rows = d.orderBy("doc_id").select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            graft.streaming.CorpusStream.dsirScoringStream(
                stream.toDS().toDF("doc_id", "text"), "doc_id", "text", lam),
            "st26_scores")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("doc_id")
      },
      Some(dsirOracleSql("doc_id < 2000"))),

    Q(
      "d18_boilerplate_removal",
      (s, dir) => {
        // C4/RefinedWeb corpus-frequency boilerplate removal (Raffel
        // et al. 2020 §2.2): a 10-token chunk occurring >= 3 times
        // across the corpus is boilerplate and is removed from EVERY
        // document — first occurrence included, the cleaning semantics
        // d13's keep-global-first dedup is not. Planted: a 10-token
        // "cookie banner" prepended to every fifth document; because
        // the banner is exactly one chunk width, the host document's
        // own chunks keep their alignment, so the op must remove the
        // banner everywhere while the organic census (shared
        // vocabulary ⇒ real cross-doc chunk collisions) exercises the
        // threshold on unplanted chunks too. The banned set is
        // boilerplate-sized (a chunk must repeat corpus-wide to
        // enter), so it broadcasts; the census shuffles hashes only.
        val d = Tables(s, dir).documents.select("doc_id", "text")
        val banner = "please accept cookie terms before you continue reading this page"
        val corpus = d.select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit(banner + " "), col("text")))
            .otherwise(col("text")).as("text"))
        graft.ops.Dedup.boilerplateChunkRemoval(
            corpus, "doc_id", "text", w = 10, minOcc = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH corpus AS (SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN
             |      'please accept cookie terms before you continue reading this page '
             |        || text ELSE text END AS text
             |  FROM documents),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
             |chunks AS (SELECT doc_id, ci,
             |    array_to_string(t[ci*10+1 : ci*10+10], ' ') AS chunk
             |  FROM (SELECT doc_id, t, unnest(range((len(t) + 9) // 10)) AS ci
             |        FROM toks)),
             |hashed AS (SELECT doc_id, ci, chunk,
             |    ${md5FoldSql("chunk")} AS h
             |  FROM chunks),
             |banned AS (SELECT h FROM hashed GROUP BY h HAVING count(*) >= 3),
             |kept AS (SELECT doc_id, ci, chunk FROM hashed
             |  WHERE h NOT IN (SELECT h FROM banned)),
             |perdoc AS (SELECT doc_id, count(*) AS n_chunks FROM hashed
             |  GROUP BY doc_id),
             |keptdoc AS (SELECT doc_id, count(*) AS n_kept,
             |    string_agg(chunk, ' ' ORDER BY ci) AS cleaned_text
             |  FROM kept GROUP BY doc_id)
             |SELECT p.doc_id, p.n_chunks,
             |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
             |  coalesce(k.cleaned_text, '') AS cleaned_text
             |FROM perdoc p LEFT JOIN keptdoc k USING (doc_id)
             |ORDER BY p.doc_id""".stripMargin)),

    Q(
      "p16_cluster_prune",
      (s, dir) => {
        // Prototype-distance data pruning (the SSL-prototypes rule of
        // Sorscher et al. 2022, "Beyond neural scaling laws": cluster
        // the embedding space, score each example by distance to its
        // cluster prototype, DROP the easy/prototypical examples and
        // keep the hard ones — when data is abundant, pruning easy
        // examples beats random subsampling). Clustering is a08's
        // deterministic k-means (k=4, 2 Lloyd rounds, centers
        // quantized to 1e-6 at every round so the oracle's unrolled
        // CTE replay assigns identically); the keep rule is
        // per-cluster mean-distance — qd·n_c >= Σqd in exact integers
        // (quantized squared distance × cluster count vs cluster sum),
        // no float threshold, no per-cluster sort: two aggregates and
        // a broadcast probe of 4 stat rows however large the corpus
        // (the 10^6-quantized distance keeps qd·n_c under 2^63 up to
        // ~10^9-row clusters at unit-scale embeddings; repartition the
        // comparison to qd >= Σqd div n_c past that).
        import graft.functions.VectorExpressions.{cellArgmin, cellMinDist}
        import org.apache.spark.sql.graftshim.InternalFrame
        val emb = Tables(s, dir).embeddings
        val centers = graft.ops.Similarity.kmeansFitDistributed(
          emb, "vec_id", "embedding", k = 4, iters = 2)
        val base = InternalFrame.sharedScan(emb.select(col("vec_id"),
          cellArgmin(col("embedding").cast("array<double>"), centers)
            .cast("int").as("cell"),
          floor(cellMinDist(col("embedding").cast("array<double>"), centers)
            * 1e6 + 0.5).cast("long").as("qd_x1e6")))
        val stats = base.groupBy("cell")
          .agg(count(lit(1)).as("nc"), sum("qd_x1e6").as("sumqd"))
        base.join(broadcast(stats), "cell")
          .filter(col("qd_x1e6") * col("nc") >= col("sumqd"))
          .select(col("vec_id"), col("cell"), col("qd_x1e6"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |c0 AS (SELECT rn - 1 AS cell, v AS ctr
             |       FROM (SELECT v, row_number() OVER (ORDER BY vec_id, v) AS rn FROM e)
             |       WHERE rn <= 4),
             |a1 AS (SELECT vec_id, v, cell FROM (
             |    SELECT e.vec_id, e.v, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (e.v[i+1]-c.ctr[i+1])*(e.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM e CROSS JOIN c0 c) WHERE rn = 1),
             |c1 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i FROM a1)
             |    GROUP BY cell, i) GROUP BY cell),
             |c1f AS (SELECT c0.cell, coalesce(c1.ctr, c0.ctr) AS ctr
             |        FROM c0 LEFT JOIN c1 USING (cell)),
             |a2 AS (SELECT vec_id, v, cell FROM (
             |    SELECT e.vec_id, e.v, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (e.v[i+1]-c.ctr[i+1])*(e.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM e CROSS JOIN c1f c) WHERE rn = 1),
             |c2 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i FROM a2)
             |    GROUP BY cell, i) GROUP BY cell),
             |c2f AS (SELECT c1f.cell, coalesce(c2.ctr, c1f.ctr) AS ctr
             |        FROM c1f LEFT JOIN c2 USING (cell)),
             |qd AS (SELECT vec_id, cell, qd_x1e6 FROM (
             |    SELECT e.vec_id, c.cell,
             |      CAST(floor(list_sum(list_transform(range(64),
             |        i -> (e.v[i+1]-c.ctr[i+1])*(e.v[i+1]-c.ctr[i+1])))
             |        * 1e6 + 0.5) AS BIGINT) AS qd_x1e6,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (e.v[i+1]-c.ctr[i+1])*(e.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM e CROSS JOIN c2f c) WHERE rn = 1),
             |st AS (SELECT cell, count(*) AS nc, sum(qd_x1e6) AS sumqd
             |       FROM qd GROUP BY cell)
             |SELECT vec_id, CAST(qd.cell AS INT) AS cell, qd_x1e6
             |FROM qd JOIN st USING (cell)
             |WHERE qd_x1e6 * nc >= sumqd
             |ORDER BY vec_id""".stripMargin)),

    Q(
      "l15_zorder_audit",
      (s, dir) => {
        // Z-ORDER layout audit — the multi-dimensional clustering math
        // behind Delta/Iceberg's OPTIMIZE ZORDER, quantified: interleave
        // the bits of two normalized join/filter columns (Morton code),
        // partition rows into 64 "files" by Morton range, and measure
        // per-file min–max spans of BOTH columns against the same 64
        // files under a linear single-column sort. Z-order files bound
        // both spans (each file is a rectangle-ish region of the 2-d
        // key space), the linear layout bounds one and spans the whole
        // other — exactly the difference parquet min/max skipping sees
        // when queries filter on the second column. Coordinates
        // normalize to 5 bits via IN-PLAN maxima (no driver round
        // trip, SF-robust); the Morton interleave is a fixed 10-term
        // expression tree (whole-stage codegen, not a lambda fold).
        // Output: per layout, files and the average spans — the
        // skipping headroom a query planner gets from each.
        val li = Tables(s, dir).lineitem
          .select(col("l_partkey").cast("long").as("pk"),
            col("l_suppkey").cast("long").as("sk"))
        val maxes = li.agg(max("pk").as("mpk"), max("sk").as("msk"))
        val coords = li.crossJoin(broadcast(maxes))
          .select(col("pk"), col("sk"),
            expr("pk * 32 div (mpk + 1)").as("x"),
            expr("sk * 32 div (msk + 1)").as("y"),
            expr("pk * 64 div (mpk + 1)").as("lfile"))
        val morton = (0 until 5).map { j =>
          shiftleft(shiftright(col("x"), j).bitwiseAND(1), 2 * j) +
            shiftleft(shiftright(col("y"), j).bitwiseAND(1), 2 * j + 1)
        }.reduce(_ + _)
        // 10-bit Morton >> 4 = 64 files of 16 CONSECUTIVE Morton codes
        // each (range partitioning in Morton order — what a sorted
        // write produces); the linear layout gets 64 equal pk ranges.
        val z = coords.select(col("pk"), col("sk"),
          shiftright(morton.cast("long"), 4).as("zfile"), col("lfile"))
        def spans(fileCol: String, name: String) = z
          .groupBy(col(fileCol).as("f"))
          .agg((max("pk") - min("pk")).as("pks"), (max("sk") - min("sk")).as("sks"))
          .agg(count(lit(1)).as("n_files"),
            expr("sum(pks) div count(*)").as("avg_pk_span"),
            expr("sum(sks) div count(*)").as("avg_sk_span"))
          .select(lit(name).as("layout"), col("n_files"),
            col("avg_pk_span"), col("avg_sk_span"))
        spans("zfile", "zorder").unionAll(spans("lfile", "linear"))
          .orderBy("layout")
      },
      Some("""WITH li AS (SELECT CAST(l_partkey AS BIGINT) AS pk,
             |    CAST(l_suppkey AS BIGINT) AS sk FROM lineitem),
             |mx AS (SELECT max(pk) AS mpk, max(sk) AS msk FROM li),
             |coords AS (SELECT pk, sk, pk * 32 // (mpk + 1) AS x,
             |    sk * 32 // (msk + 1) AS y,
             |    pk * 64 // (mpk + 1) AS lfile FROM li CROSS JOIN mx),
             |z AS (SELECT pk, sk,
             |    CAST(list_sum(list_transform(range(5), j ->
             |      (((x >> j) & 1) << (2*j)) + (((y >> j) & 1) << (2*j + 1))))
             |      AS BIGINT) >> 4 AS zfile,
             |    lfile
             |  FROM coords),
             |zs AS (SELECT zfile AS f, max(pk) - min(pk) AS pks,
             |    max(sk) - min(sk) AS sks FROM z GROUP BY 1),
             |ls AS (SELECT lfile AS f, max(pk) - min(pk) AS pks,
             |    max(sk) - min(sk) AS sks FROM z GROUP BY 1),
             |za AS (SELECT 'zorder' AS layout, count(*) AS n_files,
             |    CAST(sum(pks) // count(*) AS BIGINT) AS avg_pk_span,
             |    CAST(sum(sks) // count(*) AS BIGINT) AS avg_sk_span FROM zs),
             |la AS (SELECT 'linear' AS layout, count(*) AS n_files,
             |    CAST(sum(pks) // count(*) AS BIGINT) AS avg_pk_span,
             |    CAST(sum(sks) // count(*) AS BIGINT) AS avg_sk_span FROM ls)
             |SELECT * FROM za UNION ALL SELECT * FROM la
             |ORDER BY layout""".stripMargin)),

    Q(
      "p17_unimax_mix",
      (s, dir) => {
        // UniMax language/source sampling (Chung et al. 2023): given a
        // token budget B and an epoch cap E, allocate budget UNIFORMLY
        // across sources except that no source may contribute more
        // than E epochs of itself — the fairer alternative to p09/p11's
        // temperature mixing (which still over-samples the head).
        // UniMax's sequential waterfilling has a closed PREFIX form:
        // sort sources by capacity cap=E·c ascending with prefix sums
        // P_k; source k saturates iff cap_k·(n−k) + P_k <= B, and
        // f(k) = cap_k·(n−k) + P_k is non-decreasing in k
        // (f(k+1)−f(k) = (n−k)(cap_{k+1}−cap_k) >= 0), so the
        // saturated set is exactly a prefix — one window pass + one
        // sources-sized aggregate replaces the sequential loop, and
        // every quantity is INTEGER (θ and epochs by floor division),
        // so any engine replays the allocation bit-for-bit. The
        // un-allocated floor remainder is < n−k* tokens — noted, not
        // redistributed (UniMax's own rounding posture). Window is
        // unpartitioned BY DESIGN: it runs on the sources-sized
        // census (dozens of rows at 100 TB), never on documents.
        val docs = Tables(s, dir).documents
        val bySrc = docs.groupBy("source")
          .agg(sum(size(split(col("text"), " "))).cast("long").as("c"))
          .withColumn("cap", col("c") * 2)
        val tot = bySrc.agg(expr("sum(c) div 2").as("b"),
          count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("cap", "source")
        val ranked = bySrc
          .withColumn("k", row_number().over(w).cast("long"))
          .withColumn("p", sum("cap").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .crossJoin(broadcast(tot))
          .withColumn("sat", (col("cap") * (col("n") - col("k")) + col("p")
            <= col("b")).cast("int"))
        val shared = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(ranked)
        val scalar = shared.agg(
          coalesce(max(when(col("sat") === 1, col("k"))), lit(0L)).as("kstar"),
          coalesce(max(when(col("sat") === 1, col("p"))), lit(0L)).as("pstar"))
        val theta = when(col("n") > col("kstar"),
          expr("(b - pstar) div (n - kstar)")).otherwise(lit(0L))
        shared.crossJoin(broadcast(scalar))
          .withColumn("alloc",
            when(col("sat") === 1, col("cap")).otherwise(theta))
          .select(col("source"), col("c").as("n_tokens"),
            col("cap").as("cap_tokens"), col("alloc").as("alloc_tokens"),
            expr("alloc * 10000 div c").as("epochs_bp"))
          .orderBy("source")
      },
      Some("""WITH bysrc AS (SELECT source,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) // 2 AS BIGINT) AS b,
             |    count(*) AS n FROM bysrc),
             |ranked AS (SELECT source, c, c * 2 AS cap,
             |    CAST(row_number() OVER (ORDER BY c * 2, source) AS BIGINT) AS k,
             |    sum(c * 2) OVER (ORDER BY c * 2, source
             |      ROWS UNBOUNDED PRECEDING) AS p
             |  FROM bysrc),
             |flag AS (SELECT r.*, b, n,
             |    CASE WHEN cap * (n - k) + p <= b THEN 1 ELSE 0 END AS sat
             |  FROM ranked r CROSS JOIN tot),
             |scalar AS (SELECT coalesce(max(CASE WHEN sat = 1 THEN k END), 0) AS kstar,
             |    coalesce(max(CASE WHEN sat = 1 THEN p END), 0) AS pstar FROM flag)
             |SELECT source, c AS n_tokens, cap AS cap_tokens,
             |  CAST(CASE WHEN sat = 1 THEN cap
             |       ELSE (b - pstar) // (n - kstar) END AS BIGINT) AS alloc_tokens,
             |  CAST((CASE WHEN sat = 1 THEN cap
             |        ELSE (b - pstar) // (n - kstar) END) * 10000 // c AS BIGINT)
             |    AS epochs_bp
             |FROM flag CROSS JOIN scalar
             |ORDER BY source""".stripMargin)),

    Q(
      "st27_stream_gopher_gate",
      (s, dir) => {
        // STREAMING Gopher gate — the scalar rule subset of t30 applied
        // at ingest as a stateless per-row annotation
        // (CorpusStream.gopherGateStream shares the flag definitions
        // with the batch audit, so the two deployments cannot drift).
        // The repetition family stays batch-side by design: an ingest
        // gate is one narrow scan per row, no per-doc grouping state.
        // Universe capped absolute (st18/st26's discipline); drained
        // sink hash-matches t30's oracle restricted to the scalar
        // columns under the same cap.
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val rows = Tables(s, dir).documents.filter(col("doc_id") < 2000)
          .orderBy("doc_id").select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            graft.streaming.CorpusStream.gopherGateStream(
                stream.toDS().toDF("doc_id", "text"), "doc_id", "text"),
            "st27_gate")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(len(w) BETWEEN 50 AND 100000 AS INT) AS wc_ok,
             |  CAST(length(text) - len(w) + 1 >= 3 * len(w)
             |    AND length(text) - len(w) + 1 <= 10 * len(w) AS INT) AS mwl_ok,
             |  CAST(5 * len(regexp_extract_all(text,
             |    '(?:^| )[^ ]*[A-Za-z][^ ]*')) >= 4 * len(w) AS INT) AS alpha_ok,
             |  CAST(len(list_intersect(w,
             |    ['the','a','of','and','to','in','is','it'])) >= 2 AS INT) AS stop_ok,
             |  CAST(len(w) BETWEEN 50 AND 100000 AS INT)
             |    * CAST(length(text) - len(w) + 1 >= 3 * len(w)
             |        AND length(text) - len(w) + 1 <= 10 * len(w) AS INT)
             |    * CAST(5 * len(regexp_extract_all(text,
             |        '(?:^| )[^ ]*[A-Za-z][^ ]*')) >= 4 * len(w) AS INT)
             |    * CAST(len(list_intersect(w,
             |        ['the','a','of','and','to','in','is','it'])) >= 2 AS INT)
             |    AS scalar_pass
             |FROM (SELECT doc_id, text, string_split(text, ' ') AS w
             |      FROM documents WHERE doc_id < 2000)
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "st28_stream_boilerplate_gate",
      (s, dir) => {
        // STREAMING boilerplate probe — d18's corpus-frequency banned
        // set frozen and applied at ingest (the crawl-frontier
        // deployment: fit the census offline, ship the sorted hash
        // array, annotate every arriving doc with how much of it is
        // boilerplate before storage decides). One native scan per
        // row (ChunkHashHits: token-boundary walk + one MD5 per
        // disjoint 10-token chunk + binary-search probe — the chunk
        // grain, banner planting, and hash are d18's EXACTLY, so the
        // batch census CTEs oracle the stream verbatim). Stateless
        // append; universe capped absolute (st18/st26's discipline)
        // while the banned set is fitted on the FULL planted corpus —
        // a deployed artifact does not scale with the feed.
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val banner = "please accept cookie terms before you continue reading this page"
        val d = Tables(s, dir).documents.select("doc_id", "text")
        val corpus = d.select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit(banner + " "), col("text")))
            .otherwise(col("text")).as("text"))
        val banned = graft.ops.Dedup.boilerplateBannedFreeze(
          corpus, "doc_id", "text", w = 10, minOcc = 3)
        val rows = corpus.filter(col("doc_id") < 2000).orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            graft.streaming.CorpusStream.boilerplateGateStream(
                stream.toDS().toDF("doc_id", "text"), "doc_id", "text", banned),
            "st28_gate")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("doc_id")
      },
      Some(s"""WITH corpus AS (SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN
             |      'please accept cookie terms before you continue reading this page '
             |        || text ELSE text END AS text
             |  FROM documents),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
             |chunks AS (SELECT doc_id, ci,
             |    array_to_string(t[ci*10+1 : ci*10+10], ' ') AS chunk
             |  FROM (SELECT doc_id, t, unnest(range((len(t) + 9) // 10)) AS ci
             |        FROM toks)),
             |hashed AS (SELECT doc_id, ci,
             |    ${md5FoldSql("chunk")} AS h
             |  FROM chunks),
             |banned AS (SELECT h FROM hashed GROUP BY h HAVING count(*) >= 3)
             |SELECT doc_id, count(*) AS n_chunks,
             |  CAST(sum(CASE WHEN h IN (SELECT h FROM banned)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_banned
             |FROM hashed WHERE doc_id < 2000
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q(
      "t36_kmv_overlap",
      (s, dir) => {
        // Cross-source corpus overlap via KMV (k-minimum-values) bottom-k
        // sketches (Bar-Yossef et al. 2002; Beyer et al. 2007 — the
        // DataSketches theta-sketch estimator): each source keeps the
        // k = 128 SMALLEST universal-hash values of its distinct 3-gram
        // shingles; distinct-count estimates read (k−1)/u_k off the kth
        // value, and per-pair Jaccard is the matched fraction inside the
        // bottom-k of the sketch UNION — the WIMBD-style "how much does
        // source A repeat source B" audit without ever joining corpora.
        // A source (or union) with fewer than k values keeps everything,
        // so its estimate is EXACT by construction. The 55-bit polyhash
        // post-mixes through one splitmix-seeded universal hash (the
        // MinHash family's arithmetic) to be uniform on [0, 2^31) — KMV's
        // order statistics need uniformity polyhash alone doesn't give.
        // Scale: the only corpus-sized work is the shingle scan; the
        // bottom-k per source is the native graft_kmv SET aggregate
        // (duplicates die map-side in k-entry buffers, the shuffle
        // carries sources × k longs), and every pair computation runs
        // on sources × k rows — driver-tiny however large the corpus.
        // Estimator math is IEEE-deterministic and replayed exactly by
        // the oracle. Planted-overlap exactness and estimator-regime
        // accuracy are spec'd in Wave7Spec.
        graft.ops.Dedup.kmvSourceOverlap(
          Tables(s, dir).documents.select(col("source"), col("text")),
          "source", "text")
      },
      Some(kmvOracleSql("TRUE"))),

    Q(
      "st35_stream_kmv_overlap",
      (s, dir) => {
        // STREAMING KMV sketches — t36's cross-source overlap audit as
        // LIVE state (the st06/st07/st10 sketch-family posture: the
        // sketch is the stream's state, merge-commutative and
        // duplicate-absorbing, so arrival order and micro-batch cuts
        // cannot change it): each arriving document's shingle hashes
        // mix row-locally (kmvMixedHashes — narrow, stateless) and the
        // native graft_kmv set aggregate holds k = 128 longs per
        // source as complete-mode state however long the stream runs.
        // The drained snapshot IS the batch sketch bit-for-bit, so the
        // estimator tail (kmvOverlapFromSketches) and the oracle are
        // t36's under the harness cap. Universe capped ABSOLUTE
        // (doc_id < 2000 — st18's discipline). collect() is the
        // MemoryStream feeding harness; production uses readStream.
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(String, String)]
        val rows = Tables(s, dir).documents.filter(col("doc_id") < 2000)
          .orderBy("doc_id").select(col("source"), col("text"))
          .collect().map(r => (r.getString(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(String, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        val sk = StreamReplay(s,
            graft.ops.Dedup.kmvMixedHashes(
                stream.toDS().toDF("source", "text"), "source", "text")
              .groupBy("source")
              .agg(graft.functions.VectorExpressions.kmvSketch(col("hv"), 128).as("sk")),
            "st35_sketches", "complete")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .select(col("source"), explode(col("sk")).as("hv"))
        graft.ops.Dedup.kmvOverlapFromSketches(sk, 128)
      },
      Some(kmvOracleSql("doc_id < 2000"))),

    Q(
      "t38_kmv_union_screen",
      (s, dir) => {
        // K-way KMV union screen — the corpus-WIDE companion to t36's
        // pairwise audit: ONE more graft_kmv fold merges every
        // per-source sketch into the global union sketch (the set
        // semantics absorb cross-source duplicates, exactly the
        // theta-sketch union), the union's distinct-shingle count
        // reads off its kth value, and each source's matched fraction
        // inside the union's bottom-k is the standard containment
        // estimate of |S_c|/|S_union| — in EXACT integer ppm (matches
        // · 10^6 div ku; no float until the display estimates). The
        // mix-share table a curation team reads before setting p09
        // temperatures. Input is sources × k rows, so every frame
        // past the shared shingle scan is driver-tiny.
        graft.ops.Dedup.kmvUnionScreen(
          graft.ops.Dedup.kmvSourceSketches(
            Tables(s, dir).documents.select(col("source"), col("text")),
            "source", "text"),
          k = 128)
      },
      Some(s"""WITH ${kmvSketchCtes("TRUE")},
             |kunion AS (SELECT hv FROM (
             |    SELECT hv, row_number() OVER (ORDER BY hv) AS rk
             |    FROM (SELECT DISTINCT hv FROM sk)) WHERE rk <= 128),
             |ustats AS (SELECT count(*) AS ku, max(hv) AS vku FROM kunion),
             |persrc AS (SELECT s.source, count(*) AS matches
             |  FROM kunion k JOIN sk s ON s.hv = k.hv GROUP BY 1)
             |SELECT st.source, st.cnt,
             |  CAST(coalesce(p.matches, 0) AS BIGINT) AS matches,
             |  CAST(coalesce(p.matches, 0) * 1000000 // u.ku AS BIGINT) AS contain_ppm,
             |  floor((${nHatSql("st.cnt", "st.vk")}) * 1e3 + 0.5) / 1e3 AS n_src,
             |  floor((${nHatSql("u.ku", "u.vku")}) * 1e3 + 0.5) / 1e3 AS n_union
             |FROM stats st
             |LEFT JOIN persrc p ON p.source = st.source
             |CROSS JOIN ustats u
             |ORDER BY st.source""".stripMargin)),

    Q(
      "t39_kmv_shared_core",
      (s, dir) => {
        // K-way KMV INTERSECTION screen — the set-algebra completion
        // of t36 (pairwise) and t38 (union/containment): inside the
        // union's bottom-k, count the hashes present in ≥ m sources
        // for EVERY m at once. m = #sources is the full k-way
        // intersection estimate; m = 1 recovers the union (an in-plan
        // sanity anchor: share_ppm = 10^6 by construction); the rows
        // between profile how much content is common to at least m
        // corpora — what a mixing team reads before cross-source
        // dedup. share_ppm is EXACT integer ppm; est_shared scales by
        // the union estimate; everything degrades to exact truth
        // below k (spec'd like t36). ONE more fold over the SAME
        // graft_kmv sketches — the membership census and the ≥ m
        // rollup run on sources × k rows, driver-tiny at any corpus
        // size.
        graft.ops.Dedup.kmvSharedCore(
          graft.ops.Dedup.kmvSourceSketches(
            Tables(s, dir).documents.select(col("source"), col("text")),
            "source", "text"),
          k = 128)
      },
      Some(s"""WITH ${kmvSketchCtes("TRUE")},
             |kunion AS (SELECT hv FROM (
             |    SELECT hv, row_number() OVER (ORDER BY hv) AS rk
             |    FROM (SELECT DISTINCT hv FROM sk)) WHERE rk <= 128),
             |ustats AS (SELECT count(*) AS ku, max(hv) AS vku FROM kunion),
             |mh AS (SELECT k.hv, count(*) AS mv
             |  FROM kunion k JOIN sk s ON s.hv = k.hv GROUP BY 1),
             |spine AS (SELECT m FROM (
             |    SELECT row_number() OVER (ORDER BY source) AS m
             |    FROM (SELECT DISTINCT source FROM sk))),
             |ge AS (SELECT sp.m, CAST(count(h.hv) AS BIGINT) AS cnt_ge
             |  FROM spine sp LEFT JOIN mh h ON h.mv >= sp.m GROUP BY 1)
             |SELECT CAST(g.m AS BIGINT) AS m, g.cnt_ge,
             |  CAST(u.ku AS BIGINT) AS ku,
             |  CAST(g.cnt_ge * 1000000 // u.ku AS BIGINT) AS share_ppm,
             |  floor((CAST(g.cnt_ge AS DOUBLE) / u.ku)
             |    * (${nHatSql("u.ku", "u.vku")}) * 1e3 + 0.5) / 1e3 AS est_shared,
             |  floor((${nHatSql("u.ku", "u.vku")}) * 1e3 + 0.5) / 1e3 AS n_union
             |FROM ge g CROSS JOIN ustats u
             |ORDER BY m""".stripMargin)))

  /** t36/st35's oracle: the full KMV replay — identical shingle fold,
    * identical splitmix coefficients as literals, bottom-k per source
    * via row_number (the set semantics fall out of DISTINCT), then the
    * pair estimator — under the given universe filter. */
  /** The shingle→mix→per-source-bottom-k→stats CTE prefix shared by
    * t36/st35 (pair estimator) and t38 (union screen). */
  private def kmvSketchCtes(filter: String): String = {
    val (ua, ub) = graft.ops.Dedup.hashCoefficients(1, 77L).head
    val shingle = "w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3]"
    s"""toks AS (SELECT source, string_split(text, ' ') AS w
       |  FROM documents WHERE $filter),
       |sh AS (SELECT source,
       |    unnest(list_transform(range(len(w) - 2), i -> ${OracleSql.polyFold(shingle)})) AS h
       |  FROM toks WHERE len(w) >= 3),
       |hv AS (SELECT DISTINCT source,
       |    ($ua * (h % 4294967296) + $ub) % 2147483647 AS hv FROM sh),
       |sk AS (SELECT source, hv FROM (
       |    SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rk
       |    FROM hv) WHERE rk <= 128),
       |stats AS (SELECT source, count(*) AS cnt, max(hv) AS vk FROM sk GROUP BY source)""".stripMargin
  }

  private def nHatSql(cnt: String, vk: String) =
    s"CASE WHEN $cnt < 128 THEN CAST($cnt AS DOUBLE) " +
      s"ELSE 127.0 / (CAST($vk AS DOUBLE) / 2147483647.0) END"

  private def kmvOracleSql(filter: String): String = {
        s"""WITH ${kmvSketchCtes(filter)},
           |uni AS (SELECT DISTINCT a.source AS src_a, b.source AS src_b, s.hv
           |  FROM stats a JOIN stats b ON a.source < b.source
           |  JOIN sk s ON s.source = a.source OR s.source = b.source),
           |kset AS (SELECT src_a, src_b, hv FROM (
           |    SELECT src_a, src_b, hv,
           |      row_number() OVER (PARTITION BY src_a, src_b ORDER BY hv) AS rk
           |    FROM uni) WHERE rk <= 128),
           |pp AS (SELECT k.src_a, k.src_b, count(*) AS ku, max(k.hv) AS vku,
           |    CAST(sum((CASE WHEN a.hv IS NOT NULL THEN 1 ELSE 0 END)
           |      * (CASE WHEN b.hv IS NOT NULL THEN 1 ELSE 0 END)) AS BIGINT) AS matches
           |  FROM kset k
           |  LEFT JOIN sk a ON a.source = k.src_a AND a.hv = k.hv
           |  LEFT JOIN sk b ON b.source = k.src_b AND b.hv = k.hv
           |  GROUP BY k.src_a, k.src_b)
           |SELECT p.src_a, p.src_b, p.ku, p.matches,
           |  floor((${nHatSql("sa.cnt", "sa.vk")}) * 1e3 + 0.5) / 1e3 AS n_a,
           |  floor((${nHatSql("sb.cnt", "sb.vk")}) * 1e3 + 0.5) / 1e3 AS n_b,
           |  floor((CAST(p.matches AS DOUBLE) / p.ku) * 1e6 + 0.5) / 1e6 AS jaccard,
           |  floor(((CAST(p.matches AS DOUBLE) / p.ku)
           |    * (${nHatSql("p.ku", "p.vku")})) * 1e3 + 0.5) / 1e3 AS inter_est
           |FROM pp p
           |JOIN stats sa ON sa.source = p.src_a
           |JOIN stats sb ON sb.source = p.src_b
           |ORDER BY src_a, src_b""".stripMargin
  }
}
