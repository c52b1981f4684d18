package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis.decontaminate
import graft.tables.Tables

/**
 * Corpus-curation operators round 5: TF-IDF salient terms, n-gram
 * repetition scoring, a Gopher-style composite quality gate, and a
 * deterministic hash-based train/val/test split. All four are standard
 * pretraining-pipeline primitives over the `documents` table.
 */
object CorpusOps {

  val queries: Seq[Q] = Seq(
    Q(
      "t14_tfidf_terms",
      (s, dir) => {
        // Top-3 salient terms per document by smoothed TF-IDF. Scores
        // are quantized to integer 1e-4 units BEFORE ranking so the
        // DuckDB oracle ranks identical integers (ln() may differ by an
        // ulp between libm and Math.log; at 1e4 granularity a boundary
        // flip needs a ~1e-9 coincidence — the same precision t09's BM25
        // scores have used safely). df is corpus-vocabulary-sized, so it
        // stays a shuffle join (NOT broadcast: vocabulary at 100 TB is
        // hundreds of millions of terms); the per-doc top-k runs through
        // the native TopKPerGroup operator, so the final shuffle carries
        // 3 rows per (partition, doc), not the full scored term list.
        val docs = Tables(s, dir).documents
        // corpus size rides IN the plan as a broadcast 1-row aggregate
        // (t17's corpus-total pattern) — a driver-side docs.count() here
        // would run a separate full-scan job at plan-construction time
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        val tfc = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tfc.groupBy("term").agg(count(lit(1)).as("df"))
        val scored = tfc.join(dfreq, "term").crossJoin(broadcast(nd))
          .select(col("doc_id"), col("term"),
            floor(col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))
              * lit(1e4) + lit(0.5)).cast("long").as("tfidf_u"))
        graft.plans.TopK.perGroup(scored, Seq(col("doc_id")), col("tfidf_u"), col("term"), k = 3)
          .select("doc_id", "term", "tfidf_u")
          .orderBy(col("doc_id"), col("tfidf_u").desc, col("term"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |tfc AS (SELECT doc_id, term, count(*) AS tf
             |  FROM (SELECT doc_id, unnest(w) AS term FROM toks) GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (SELECT doc_id, term,
             |    CAST(floor(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) * 1e4 + 0.5) AS BIGINT) AS tfidf_u
             |  FROM tfc JOIN dfreq USING (term) CROSS JOIN n)
             |SELECT doc_id, term, tfidf_u
             |FROM (SELECT doc_id, term, tfidf_u,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_u DESC, term) AS rn
             |      FROM scored)
             |WHERE rn <= 3 ORDER BY doc_id, tfidf_u DESC, term""".stripMargin)),

    Q(
      "t15_repetition_score",
      (s, dir) => {
        // Word-trigram uniqueness — the C4/Gopher repetition signal:
        // heavily templated or looping documents have a low distinct/
        // total trigram ratio. Same narrow positional-explode shape as
        // t04 (no interpreted HOF lambda, no token shuffle); the only
        // exchange is the per-doc partial aggregate.
        val toks = Tables(s, dir).documents
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 3)
        toks
          .select(col("doc_id"), col("w"),
            explode(sequence(lit(1), size(col("w")) - 2)).as("i"))
          .select(col("doc_id"), concat_ws(" ",
            element_at(col("w"), col("i")),
            element_at(col("w"), col("i") + 1),
            element_at(col("w"), col("i") + 2)).as("tri"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_trigrams"), countDistinct(col("tri")).as("uniq"))
          .select(col("doc_id"), col("n_trigrams"),
            fround(lit(1.0) - col("uniq").cast("double") / col("n_trigrams"), 4).as("rep_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
             |tri AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tri
             |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks))
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
             |  floor((1.0 - count(DISTINCT tri) * 1.0 / count(*)) * 10000.0 + 0.5) / 10000.0 AS rep_ratio
             |FROM tri GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q(
      "t26_char_entropy",
      (s, dir) => {
        // Character-grain Shannon entropy + distinct-bigram ratio —
        // the cheap compressibility pair (the gzip-ratio quality
        // signal several curation pipelines run, approximated without
        // a codec: low char entropy OR a low distinct-bigram share
        // means the byte stream compresses well, i.e., templated or
        // looping text; the inverse extreme flags gibberish).
        // Complements t15's word-trigram ratio one grain down. All
        // integer: each char's ln(c/n) quantizes to 1e-6-nat units
        // BEFORE the Σ c·q fold (t17's trick — an engine ulp flips a
        // quantized value only within ~1e-16 of a grid boundary), so
        // ent_unats = −Σc·q div n (micro-nats per char) is exact in
        // any order. Scale shape: two narrow positional explodes into
        // (doc, key) map-side-combinable aggregates — no token
        // shuffle, the t15/t04 shape; docs under 2 chars carry no
        // bigram evidence and route out.
        val d = Tables(s, dir).documents
          .filter(length(col("text")) >= 2)
          .select(col("doc_id"), col("text"), length(col("text")).as("n"))
        val cc = d
          .select(col("doc_id"), col("n"), col("text"),
            explode(sequence(lit(1), col("n"))).as("i"))
          .select(col("doc_id"), col("n"), expr("substring(text, i, 1)").as("ch"))
          .groupBy("doc_id", "n", "ch").agg(count(lit(1)).as("c"))
        val ent = cc
          .select(col("doc_id"), col("n"),
            (col("c") * floor(log(col("c").cast("double") / col("n").cast("double"))
              * 1e6 + lit(0.5)).cast("long")).as("term"))
          .groupBy("doc_id", "n").agg((-sum("term")).as("es"))
        val bga = d
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(1), col("n") - 1)).as("i"))
          .select(col("doc_id"), expr("substring(text, i, 2)").as("b"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("nb"), countDistinct(col("b")).as("ub"))
        ent.join(bga, "doc_id")
          .select(col("doc_id"), col("n").cast("long").as("n_chars"),
            expr("es div n").as("ent_unats"),
            expr("ub * CAST(1000000 AS BIGINT) div nb").as("bigram_distinct_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n
             |  FROM documents WHERE length(text) >= 2),
             |cc AS (SELECT doc_id, n, ch, count(*) AS c FROM
             |    (SELECT doc_id, n, substr(text, CAST(i AS INT) + 1, 1) AS ch
             |     FROM (SELECT doc_id, text, n, unnest(range(n)) AS i FROM d))
             |  GROUP BY 1, 2, 3),
             |ent AS (SELECT doc_id, n,
             |    -sum(c * CAST(floor(ln(c * 1.0 / n) * 1000000.0 + 0.5) AS BIGINT)) AS es
             |  FROM cc GROUP BY 1, 2),
             |bga AS (SELECT doc_id, count(*) AS nb, count(DISTINCT b) AS ub FROM
             |    (SELECT doc_id, substr(text, CAST(i AS INT) + 1, 2) AS b
             |     FROM (SELECT doc_id, text, unnest(range(n - 1)) AS i FROM d))
             |  GROUP BY 1)
             |SELECT e.doc_id, CAST(e.n AS BIGINT) AS n_chars,
             |  CAST(e.es // e.n AS BIGINT) AS ent_unats,
             |  b.ub * 1000000 // b.nb AS bigram_distinct_ppm
             |FROM ent e JOIN bga b USING (doc_id) ORDER BY doc_id""".stripMargin)),

    Q(
      "t28_drift_psi",
      (s, dir) => {
        // Population Stability Index drift audit — the standard
        // production monitor for distribution shift (credit-risk
        // lineage, now the go-to data-drift score: PSI < 0.1 stable,
        // > 0.2 action), here measuring the shift the pipeline ITSELF
        // introduces: reference = the raw corpus, current = the
        // t16-gated survivors, per feature (token count, alpha
        // ratio) over 10 fixed bins with add-one smoothing (zero
        // bins stay finite, the textbook treatment). Integer
        // discipline: ln(p/q) quantizes to 1e-6 per bin, each bin's
        // (p−q)·lnq term floors to an exact 1e-9 unit long, and the
        // per-feature PSI is the exact sum — any engine lands the
        // same integer. Scale: two map-side-combinable bin censuses
        // per feature + a 10-row literal bin spine; nothing but
        // counts ever shuffles.
        val d = Tables(s, dir).documents
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val gate = nTok.between(10, 100000) && alphaRatio >= 0.6 &&
          stopHits >= lit(2)
        val base = d.select(
          least(lit(9), nTok.cast("long") / 20L).cast("int").as("bin_tok"),
          least(lit(9), floor(alphaRatio * 10).cast("int")).as("bin_alpha"),
          gate.as("kept"))
        val bins = s.range(0, 10).select(col("id").cast("int").as("bin"))
        def psiOf(binCol: String, feature: String) = {
          val ref = base.groupBy(col(binCol).as("bin"))
            .agg(count(lit(1)).as("nr"))
          val cur = base.filter(col("kept")).groupBy(col(binCol).as("bin"))
            .agg(count(lit(1)).as("nc"))
          bins.join(ref, Seq("bin"), "left").join(cur, Seq("bin"), "left")
            .select(col("bin"), coalesce(col("nr"), lit(0L)).as("nr"),
              coalesce(col("nc"), lit(0L)).as("nc"))
            .crossJoin(base.agg(count(lit(1)).as("tr"),
              sum(col("kept").cast("long")).as("tc")))
            .select(
              ((col("nr") + 1).cast("double") / (col("tr") + 10)).as("p"),
              ((col("nc") + 1).cast("double") / (col("tc") + 10)).as("q"),
              col("nr"), col("nc"))
            .select(col("nr"), col("nc"), col("p"), col("q"),
              (floor(log(col("p") / col("q")) * 1e6 + lit(0.5)) / 1e6).as("lnq"))
            .agg(sum(col("nr")).as("n_ref"), sum(col("nc")).as("n_cur"),
              sum(floor((col("p") - col("q")) * col("lnq") * 1e9 + lit(0.5))
                .cast("long")).as("psi_x1e9"))
            .select(lit(feature).as("feature"), col("n_ref"), col("n_cur"),
              col("psi_x1e9"))
        }
        psiOf("bin_tok", "n_tokens")
          .unionByName(psiOf("bin_alpha", "alpha_ratio"))
          .orderBy("feature")
      },
      Some("""WITH base AS (SELECT
             |    least(9, CAST(len(string_split(text, ' ')) AS BIGINT) // 20) AS bin_tok,
             |    least(9, CAST(floor((length(text) - length(regexp_replace(text,
             |      '[A-Za-z ]', '', 'g'))) * 1.0 / length(text) * 10) AS INT)) AS bin_alpha,
             |    (len(string_split(text, ' ')) BETWEEN 10 AND 100000
             |      AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
             |        / length(text) >= 0.6
             |      AND len(list_filter(string_split(text, ' '),
             |        x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2) AS kept
             |  FROM documents),
             |bins AS (SELECT unnest(range(10)) AS bin),
             |tot AS (SELECT count(*) AS tr,
             |    sum(CAST(kept AS BIGINT)) AS tc FROM base),
             |tok AS (SELECT 'n_tokens' AS feature, b.bin,
             |    coalesce(r.nr, 0) AS nr, coalesce(c.nc, 0) AS nc
             |  FROM bins b
             |  LEFT JOIN (SELECT bin_tok AS bin, count(*) AS nr FROM base
             |             GROUP BY 1) r USING (bin)
             |  LEFT JOIN (SELECT bin_tok AS bin, count(*) AS nc FROM base
             |             WHERE kept GROUP BY 1) c USING (bin)),
             |alp AS (SELECT 'alpha_ratio' AS feature, b.bin,
             |    coalesce(r.nr, 0) AS nr, coalesce(c.nc, 0) AS nc
             |  FROM bins b
             |  LEFT JOIN (SELECT bin_alpha AS bin, count(*) AS nr FROM base
             |             GROUP BY 1) r USING (bin)
             |  LEFT JOIN (SELECT bin_alpha AS bin, count(*) AS nc FROM base
             |             WHERE kept GROUP BY 1) c USING (bin)),
             |terms AS (SELECT feature, nr, nc,
             |    (nr + 1) * 1.0 / (tot.tr + 10) AS p,
             |    (nc + 1) * 1.0 / (tot.tc + 10) AS q
             |  FROM (SELECT * FROM tok UNION ALL SELECT * FROM alp)
             |  CROSS JOIN tot)
             |SELECT feature, CAST(sum(nr) AS BIGINT) AS n_ref,
             |  CAST(sum(nc) AS BIGINT) AS n_cur,
             |  CAST(sum(CAST(floor((p - q) *
             |      (floor(ln(p / q) * 1e6 + 0.5) / 1e6) * 1e9 + 0.5)
             |    AS BIGINT)) AS BIGINT) AS psi_x1e9
             |FROM terms GROUP BY feature ORDER BY feature""".stripMargin)),

    Q(
      "t29_lm_perplexity",
      (s, dir) => {
        // CCNet-style LM quality scoring (Wenzek et al. 2020): an
        // add-one bigram LM fit on the TRUSTED slice (the t16 gate
        // survivors — deterministic, no sampling), then every document
        // scored by average negative log likelihood in integer
        // micro-nats. Low nll = reads like the reference (keep);
        // high = off-distribution (gibberish, wrong register) — the
        // classic perplexity filter, oracle-exact because ln
        // quantizes per bigram BEFORE the fold (t17's discipline).
        // Scale: the model is three minCount-capped broadcast frames,
        // the corpus side one narrow pair-assembly pipeline into a
        // map-side-combinable per-doc aggregate — no shuffle carries
        // text, so the fit is reference-slice-sized and the scan
        // linear at 100 TB (TextAnalysis.bigramLmFit/Score).
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val gate = nTok.between(10, 100000) && alphaRatio >= 0.6 &&
          stopHits >= lit(2)
        val d = Tables(s, dir).documents
        val lm = graft.ops.TextAnalysis.bigramLmFit(
          d.filter(gate), "text", minCount = 5)
        graft.ops.TextAnalysis.bigramLmScore(d, "doc_id", "text", lm)
          .orderBy("doc_id")
      },
      Some(lmPerplexityOracleSql("TRUE"))),

    Q(
      "t33_kn_perplexity",
      (s, dir) => {
        // KNESER-NEY perplexity filter — t29's production upgrade: the
        // interpolated KN smoothing KenLM ships (and CCNet's real
        // filter runs), where an unseen bigram backs off to how
        // PROMISCUOUS its second word is across contexts rather than
        // to a uniform add-one floor ("San Francisco": 'Francisco' is
        // frequent but bound to one context, so it scores LOW as a
        // novel continuation — add-one can't see the difference).
        // Same fit frames as t29 plus three type-count aggregates;
        // D = 3/4 exactly, every probability one exact integer ratio,
        // ln quantized per bigram before the fold
        // (TextAnalysis.knBigramScore).
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val gate = nTok.between(10, 100000) && alphaRatio >= 0.6 &&
          stopHits >= lit(2)
        val d = Tables(s, dir).documents
        val lm = graft.ops.TextAnalysis.bigramLmFit(
          d.filter(gate), "text", minCount = 5)
        graft.ops.TextAnalysis.knBigramScore(d, "doc_id", "text", lm)
          .orderBy("doc_id")
      },
      Some(knPerplexityOracleSql("TRUE"))),

    Q(
      "t34_kn3_perplexity",
      (s, dir) => {
        // KNESER-NEY TRIGRAM perplexity — t33 at KenLM's minimum
        // production order (KenLM ships order >= 3): one more backoff
        // level, same exact-integer-ratio discipline (D = 3/4 at both
        // levels, add-one Pcont at the deepest, ln quantized per
        // trigram before the fold). The middle order is estimated on
        // TYPE counts (the KN insight applied recursively: an unseen
        // history backs off to how many distinct left-contexts the
        // (w2,w3) bigram has, not to its raw frequency). All six model
        // frames derive from ONE trigram count table, broadcast;
        // the corpus scan is the narrow triple-assembly pipeline
        // (TextAnalysis.knTrigramScore).
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val gate = nTok.between(10, 100000) && alphaRatio >= 0.6 &&
          stopHits >= lit(2)
        val d = Tables(s, dir).documents
        val lm = graft.ops.TextAnalysis.trigramLmFit(
          d.filter(gate), "text", minCount = 5)
        graft.ops.TextAnalysis.knTrigramScore(d, "doc_id", "text", lm)
          .orderBy("doc_id")
      },
      Some(kn3PerplexityOracleSql("TRUE"))),

    Q(
      "st30_stream_kn3_scoring",
      (s, dir) => {
        // STREAMING TRIGRAM KN scoring — t34's model frozen and applied
        // at ingest, twinning st29 exactly (fit on the static capped
        // slice, freeze to driver arrays, score each arriving doc in
        // ONE native token scan — graftshim.Kn3LmScore computes the
        // same exact integer num/den per trigram the batch joins
        // build: two map probes + ln, zero interpreted HOFs).
        // Stateless append; universe capped absolute (st25/st29's
        // discipline).
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val d = Tables(s, dir).documents.filter(col("doc_id") < 2000)
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val gate = nTok.between(10, 100000) && alphaRatio >= 0.6 &&
          stopHits >= lit(2)
        val lm = graft.ops.TextAnalysis.kn3Freeze(
          graft.ops.TextAnalysis.trigramLmFit(d.filter(gate), "text", minCount = 5))
        val rows = d.filter(size(split(col("text"), " ")) >= 3)
          .orderBy("doc_id").select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            graft.streaming.CorpusStream.kn3ScoringStream(
                stream.toDS().toDF("doc_id", "text"), "doc_id", "text", lm),
            "st30_scores")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("doc_id")
      },
      Some(kn3PerplexityOracleSql("doc_id < 2000"))),

    Q(
      "st29_stream_kn_scoring",
      (s, dir) => {
        // STREAMING KN scoring — t33's model frozen and applied at
        // ingest, twinning st25 exactly (fit on the static capped
        // slice, freeze to driver arrays, score each arriving doc in
        // ONE native token scan — graftshim.KnLmScore computes the
        // same exact integer num/den per bigram the batch joins
        // build, one map probe + ln per pair, zero interpreted HOFs).
        // Stateless append; universe capped absolute (st25's
        // discipline).
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val d = Tables(s, dir).documents.filter(col("doc_id") < 2000)
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val gate = nTok.between(10, 100000) && alphaRatio >= 0.6 &&
          stopHits >= lit(2)
        val lm = graft.ops.TextAnalysis.knFreeze(
          graft.ops.TextAnalysis.bigramLmFit(d.filter(gate), "text", minCount = 5))
        val rows = d.filter(size(split(col("text"), " ")) >= 2)
          .orderBy("doc_id").select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            graft.streaming.CorpusStream.knScoringStream(
                stream.toDS().toDF("doc_id", "text"), "doc_id", "text", lm),
            "st29_scores")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("doc_id")
      },
      Some(knPerplexityOracleSql("doc_id < 2000"))),

    Q(
      "t16_quality_gate",
      (s, dir) => {
        // Composite Gopher-style quality gate: token-count band, alpha
        // character ratio, and minimum stopword evidence, evaluated in
        // one narrow codegen'd pass (no joins, no shuffle until the
        // final order). `passes` is INT 0/1 so both engines hash the
        // same primitive.
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        Tables(s, dir).documents
          .select(
            col("doc_id"),
            nTok.as("n_tokens"),
            fround(alphaRatio, 4).as("alpha_ratio"),
            stopHits.as("stop_hits"),
            (nTok.between(10, 100000) && alphaRatio >= 0.6 && stopHits >= lit(2))
              .cast("int").as("passes"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  len(string_split(text, ' ')) AS n_tokens,
             |  floor((length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
             |    / length(text) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio,
             |  CAST(len(list_filter(string_split(text, ' '),
             |    x -> x IN ('the','a','of','and','to','in','is','it'))) AS INT) AS stop_hits,
             |  CAST(len(string_split(text, ' ')) BETWEEN 10 AND 100000
             |    AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
             |      / length(text) >= 0.6
             |    AND len(list_filter(string_split(text, ' '),
             |      x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2 AS INT) AS passes
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q(
      "t17_unigram_logprob",
      (s, dir) => {
        // CCNet-style LM quality proxy: average corpus-unigram log
        // probability per document (templated/common text scores high,
        // noise scores low). Per-TERM logprobs are quantized to integer
        // 1e-6-nat units BEFORE the per-doc sum, so the sum is exact in
        // any aggregation order and both engines divide the same exact
        // integers at the end; the unigram table is vocabulary-sized and
        // stays a shuffle join (same posture as t14's df).
        val docs = Tables(s, dir).documents
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val cnt = toks.groupBy("term").agg(count(lit(1)).as("c"))
        // corpus total derives from the unigram table (term-cardinality
        // input), broadcast as a 1-row frame — NOT a second full explode
        // scan of the corpus
        val totals = cnt.agg(sum("c").cast("double").as("total"))
        toks.join(cnt, "term").crossJoin(broadcast(totals))
          .select(col("doc_id"),
            floor(log(col("c").cast("double") / col("total")) * 1e6 + 0.5)
              .cast("long").as("lp_u"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum("lp_u").as("s"))
          .select(col("doc_id"), col("n_tokens"),
            fround(col("s").cast("double") / lit(1e6) / col("n_tokens"), 4).as("avg_logprob"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |cnt AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
             |n AS (SELECT count(*) AS total FROM toks),
             |tok_lp AS (SELECT doc_id,
             |    CAST(floor(ln(c * 1.0 / total) * 1e6 + 0.5) AS BIGINT) AS lp_u
             |  FROM toks JOIN cnt USING (term) CROSS JOIN n)
             |SELECT doc_id, count(*) AS n_tokens,
             |  floor(CAST(sum(lp_u) AS DOUBLE) / 1e6 / count(*) * 10000.0 + 0.5) / 10000.0 AS avg_logprob
             |FROM tok_lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q(
      "t21_bigram_logprob",
      (s, dir) => {
        // Bigram LM scoring (t17's proxy one order up): per-doc average
        // add-1-smoothed conditional log probability ln((c(u,v)+1) /
        // (c(u)+V)). Bigrams assemble via the narrow positional explode
        // (t04's shape — no token window/shuffle); the bigram and
        // prefix-count tables are vocabulary²-sized and stay SHUFFLE
        // joins (a 100 TB LM table is not broadcastable); prefix counts
        // derive from the bigram table, not a second corpus scan; only
        // the 1-row vocab size broadcasts. Per-bigram logprobs quantize
        // to integer 1e-6 nats BEFORE the per-doc sum, so aggregation
        // order cannot move the hash. Docs with < 2 tokens have no
        // bigram events and drop out, same in both engines.
        val positions = when(size(col("toks")) >= 2,
          sequence(lit(1), size(col("toks")) - 1)).otherwise(array().cast("array<int>"))
        val big = Tables(s, dir).documents
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("toks"), explode(positions).as("pos"))
          .select(col("doc_id"),
            element_at(col("toks"), col("pos")).as("u"),
            element_at(col("toks"), col("pos") + 1).as("v"))
        val bc = big.groupBy("u", "v").agg(count(lit(1)).as("cuv"))
        val pc = bc.groupBy("u").agg(sum("cuv").as("cu"))
        val vocab = Tables(s, dir).documents
          .select(explode(split(col("text"), " ")).as("t"))
          .agg(countDistinct("t").cast("double").as("vsz"))
        big.join(bc, Seq("u", "v")).join(pc, Seq("u"))
          .crossJoin(broadcast(vocab))
          .select(col("doc_id"),
            floor(log((col("cuv") + lit(1)).cast("double")
              / (col("cu").cast("double") + col("vsz"))) * 1e6 + 0.5)
              .cast("long").as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("s"))
          .select(col("doc_id"), col("n_bigrams"),
            fround(col("s").cast("double") / lit(1e6) / col("n_bigrams"), 4).as("avg_logprob"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |expl AS (SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS tok FROM toks),
             |big AS (SELECT a.doc_id, a.tok AS u, b.tok AS v
             |  FROM expl a JOIN expl b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
             |bc AS (SELECT u, v, count(*) AS cuv FROM big GROUP BY 1, 2),
             |pc AS (SELECT u, sum(cuv) AS cu FROM bc GROUP BY 1),
             |vs AS (SELECT count(DISTINCT tok) AS vsz FROM expl),
             |lp AS (SELECT doc_id,
             |    CAST(floor(ln((cuv + 1) * 1.0 / (cu + vsz)) * 1e6 + 0.5) AS BIGINT) AS lp
             |  FROM big JOIN bc USING (u, v) JOIN pc USING (u) CROSS JOIN vs)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  floor(CAST(sum(lp) AS DOUBLE) / 1e6 / count(*) * 10000.0 + 0.5) / 10000.0 AS avg_logprob
             |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q(
      "p07_pretrain_pipeline",
      (s, dir) => {
        // End-to-end pretraining-prep capstone composing the curation
        // stages: quality gate (t16's predicate) → exact dedup (first
        // doc_id per identical text wins) → deterministic split (p06's
        // buckets) → per-(split, lang) corpus accounting. Every stage is
        // a narrow map or a key-local aggregate; nothing materializes
        // between stages — one Catalyst plan end to end.
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        Tables(s, dir).documents
          .filter(nTok.between(10, 100000) && alphaRatio >= 0.6 && stopHits >= lit(2))
          .groupBy(col("text"))
          .agg(min(struct(col("doc_id"), col("lang"))).as("keep"))
          .select(col("keep.doc_id").as("doc_id"), col("keep.lang").as("lang"), col("text"))
          .select(
            graft.ops.TextAnalysis.hashSplit(col("doc_id")).as("split"),
            col("lang"),
            size(split(col("text"), " ")).as("n_tokens"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").cast("long").as("total_tokens"))
          .orderBy("split", "lang")
      },
      Some("""WITH gated AS (SELECT * FROM documents
             |  WHERE len(string_split(text, ' ')) BETWEEN 10 AND 100000
             |    AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
             |      / length(text) >= 0.6
             |    AND len(list_filter(string_split(text, ' '),
             |      x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2),
             |deduped AS (SELECT min(doc_id) AS doc_id,
             |    min_by(lang, doc_id) AS lang, text
             |  FROM gated GROUP BY text),
             |labeled AS (SELECT
             |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
             |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
             |         ELSE 'test' END AS split,
             |    lang, len(string_split(text, ' ')) AS n_tokens
             |  FROM deduped)
             |SELECT split, lang, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
             |FROM labeled GROUP BY split, lang ORDER BY split, lang""".stripMargin)),

    Q(
      "p12_decontaminated_pipeline",
      (s, dir) => {
        // The FULL production pretraining recipe — p07's capstone with
        // the eval-integrity stage every released model's data card
        // claims: gate (t16's predicate) → exact dedup → BENCHMARK
        // DECONTAMINATION (dc01's 4-gram probe: any doc sharing a word
        // 4-gram with the held-out benchmark slice is removed, not
        // merely flagged) → deterministic split (p06) → per-(split,
        // lang) accounting. Still ONE Catalyst plan: the benchmark
        // n-gram set is model-sized and broadcast, the anti-join by id
        // is broadcast too (flagged ids ≤ corpus), so the pipeline
        // stays a chain of narrow maps + key-local aggregates with the
        // corpus shuffling only for the dedup groupBy.
        val d = Tables(s, dir).documents
        val bench = d.filter(col("doc_id") % 23 === 0)
        val pool = d.filter(col("doc_id") % 23 =!= 0)
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val deduped = pool
          .filter(nTok.between(10, 100000) && alphaRatio >= 0.6 && stopHits >= lit(2))
          .groupBy(col("text"))
          .agg(min(struct(col("doc_id"), col("lang"))).as("keep"))
          .select(col("keep.doc_id").as("doc_id"), col("keep.lang").as("lang"), col("text"))
        val flagged = decontaminate(deduped, bench, "doc_id", "text", n = 4)
        deduped.join(broadcast(flagged), Seq("doc_id"), "left_anti")
          .select(
            graft.ops.TextAnalysis.hashSplit(col("doc_id")).as("split"),
            col("lang"),
            size(split(col("text"), " ")).as("n_tokens"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").cast("long").as("total_tokens"))
          .orderBy("split", "lang")
      },
      Some("""WITH gated AS (SELECT * FROM documents
             |  WHERE doc_id % 23 <> 0
             |    AND len(string_split(text, ' ')) BETWEEN 10 AND 100000
             |    AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
             |      / length(text) >= 0.6
             |    AND len(list_filter(string_split(text, ' '),
             |      x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2),
             |deduped AS (SELECT min(doc_id) AS doc_id,
             |    min_by(lang, doc_id) AS lang, text
             |  FROM gated GROUP BY text),
             |bng AS (SELECT DISTINCT unnest(list_transform(range(1, len(w) - 4 + 2),
             |      i -> list_aggregate(w[i:i+3], 'string_agg', ' '))) AS ngram
             |  FROM (SELECT string_split(text, ' ') AS w FROM documents
             |        WHERE doc_id % 23 = 0)
             |  WHERE len(w) >= 4),
             |cng AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 4 + 2),
             |      i -> list_aggregate(w[i:i+3], 'string_agg', ' '))) AS ngram
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM deduped)
             |  WHERE len(w) >= 4),
             |contaminated AS (SELECT DISTINCT c.doc_id
             |  FROM cng c JOIN bng b USING (ngram)),
             |clean AS (SELECT * FROM deduped
             |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
             |labeled AS (SELECT
             |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
             |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
             |         ELSE 'test' END AS split,
             |    lang, len(string_split(text, ' ')) AS n_tokens
             |  FROM clean)
             |SELECT split, lang, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
             |FROM labeled GROUP BY split, lang ORDER BY split, lang""".stripMargin)),

    Q(
      "p08_weighted_sample",
      (s, dir) => {
        // Deterministic weighted sampling without replacement (Efraimidis–
        // Spirakis A-ES): each doc gets key ln(u)/w with u from the
        // portable md5 hash (salted so p06's split buckets don't correlate)
        // and w = n_chars; the global top-100 keys ARE a weighted sample.
        // One narrow pass + the native TopK heap — the shuffle carries
        // 100 rows per partition, reproducible on any engine, any rerun,
        // any scale (the per-row key is pure hash arithmetic).
        val h = graft.functions.VectorExpressions.md5Hash52(
          concat(lit("p08:"), col("doc_id").cast("string")))
        val keyed = Tables(s, dir).documents
          .select(col("doc_id"), col("n_chars"),
            (log((h + lit(1)).cast("double") / lit(4503599627370496.0))
              / col("n_chars")).as("k"))
        graft.plans.TopK.perGroup(keyed, Seq.empty, col("k"), col("doc_id"), k = 100)
          .select("doc_id", "n_chars")
          .orderBy("doc_id")
      },
      Some("""WITH keyed AS (SELECT doc_id, n_chars,
             |    ln((list_reduce(list_prepend(CAST(0 AS BIGINT),
             |        list_transform(range(13), j ->
             |          CAST(strpos('0123456789abcdef',
             |            substr(md5('p08:' || CAST(doc_id AS VARCHAR)), j + 1, 1)) - 1 AS BIGINT))),
             |        (a, c) -> a * 16 + c) + 1.0) / 4503599627370496.0) / n_chars AS k
             |  FROM documents)
             |SELECT doc_id, n_chars
             |FROM (SELECT doc_id, n_chars,
             |        row_number() OVER (ORDER BY k DESC, doc_id) AS rn
             |      FROM keyed)
             |WHERE rn <= 100 ORDER BY doc_id""".stripMargin)),

    Q(
      "p06_hash_split",
      (s, dir) => {
        // Deterministic train/val/test assignment by md5 of the stable
        // document id — the standard reproducible-split primitive: any
        // engine (and any rerun at any scale) assigns each id the same
        // split, with no rand() and no global shuffle. 256 hex buckets:
        // < 'cd' (204) train ~80%, < 'e6' (230) val ~10%, rest test.
        Tables(s, dir).documents
          .select(col("doc_id"),
            graft.ops.TextAnalysis.hashSplit(col("doc_id")).as("split"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
             |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q(
      "t22_token_entropy",
      (s, dir) => {
        // Lexical-diversity quality signal: per-document Shannon
        // entropy of the token distribution (repetitive/templated text
        // scores low — the complement of t15's repetition ratio, on an
        // information-theoretic footing). Per-TERM entropy
        // contributions -(c/n)·ln(c/n) quantize to integer 1e-6-nat
        // units BEFORE the per-doc sum (t17's trick), so aggregation
        // order cannot move the hash. Scale shape: two map-side-
        // combinable aggregates + one doc-keyed equi-join; the
        // (doc, term) frame never broadcasts and never windows.
        val docs = Tables(s, dir).documents
        val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        val n = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val c = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        val p = col("c").cast("double") / col("n").cast("double")
        c.join(n, "doc_id")
          .select(col("doc_id"), col("n"),
            floor(-p * log(p) * 1e6 + 0.5).cast("long").as("e_u"))
          .groupBy("doc_id", "n")
          .agg(count(lit(1)).as("n_distinct"), sum("e_u").as("s"))
          .select(col("doc_id"), col("n").as("n_tokens"),
            col("n_distinct"),
            fround(col("s").cast("double") / lit(1e6), 4).as("entropy_nats"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |n AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
             |c AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
             |t AS (SELECT c.doc_id, n,
             |    CAST(floor(-(c * 1.0 / n) * ln(c * 1.0 / n) * 1e6 + 0.5) AS BIGINT) AS e_u
             |  FROM c JOIN n USING (doc_id))
             |SELECT doc_id, n AS n_tokens, count(*) AS n_distinct,
             |  floor(CAST(sum(e_u) AS DOUBLE) / 1e6 * 10000.0 + 0.5) / 10000.0 AS entropy_nats
             |FROM t GROUP BY doc_id, n ORDER BY doc_id""".stripMargin)))

  /** t29's oracle over a filtered document slice — the train slice is
    * the t16 gate WITHIN the same filter, so st25 can pass its absolute
    * feed cap and replay the identical model (stream ≡ batch bit-parity
    * over the frozen-artifact path, spec-asserted). */
  def lmPerplexityOracleSql(docFilter: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w,
       |    (len(string_split(text, ' ')) BETWEEN 10 AND 100000
       |     AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
       |       / length(text) >= 0.6
       |     AND len(list_filter(string_split(text, ' '),
       |       x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2) AS keep
       |  FROM documents WHERE $docFilter),
       |vocab AS (SELECT tok FROM (SELECT unnest(w) AS tok FROM toks WHERE keep)
       |  GROUP BY tok HAVING count(*) >= 5),
       |vsz AS (SELECT count(*) + 1 AS v FROM vocab),
       |rm AS (SELECT
       |    CASE WHEN v1.tok IS NULL THEN '<unk>' ELSE rp.t1 END AS m1,
       |    CASE WHEN v2.tok IS NULL THEN '<unk>' ELSE rp.t2 END AS m2
       |  FROM (SELECT w[i] AS t1, w[i + 1] AS t2
       |        FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks
       |              WHERE keep AND len(w) >= 2)) rp
       |  LEFT JOIN vocab v1 ON rp.t1 = v1.tok
       |  LEFT JOIN vocab v2 ON rp.t2 = v2.tok),
       |c2 AS (SELECT m1, m2, count(*) AS c2 FROM rm GROUP BY 1, 2),
       |c1 AS (SELECT m1, sum(c2) AS c1 FROM c2 GROUP BY 1),
       |am AS (SELECT ap.doc_id,
       |    CASE WHEN v1.tok IS NULL THEN '<unk>' ELSE ap.t1 END AS m1,
       |    CASE WHEN v2.tok IS NULL THEN '<unk>' ELSE ap.t2 END AS m2
       |  FROM (SELECT doc_id, w[i] AS t1, w[i + 1] AS t2
       |        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks
       |              WHERE len(w) >= 2)) ap
       |  LEFT JOIN vocab v1 ON ap.t1 = v1.tok
       |  LEFT JOIN vocab v2 ON ap.t2 = v2.tok),
       |sc AS (SELECT am.doc_id,
       |    CAST(floor(ln((coalesce(c2.c2, 0) + 1) * 1.0 /
       |      (coalesce(c1.c1, 0) + vsz.v)) * 1000000.0 + 0.5) AS BIGINT) AS q
       |  FROM am LEFT JOIN c2 USING (m1, m2) LEFT JOIN c1 USING (m1)
       |  CROSS JOIN vsz)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST((-sum(q)) // count(*) AS BIGINT) AS nll_unats
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t33/st29's oracle: the t29 fit CTEs + the three KN type-count
    * aggregates + the exact integer num/den per scored bigram (the
    * knBigramScore formula verbatim). */
  def knPerplexityOracleSql(docFilter: String): String = {
    val shared = lmPerplexityOracleSql(docFilter)
    val upToAm = shared.substring(0, shared.indexOf(",\nsc AS ("))
    s"""$upToAm,
       |n1 AS (SELECT m1, count(*) AS n1 FROM c2 GROUP BY 1),
       |cont AS (SELECT m2, count(*) AS cont FROM c2 GROUP BY 1),
       |ctot AS (SELECT count(*) AS ct FROM c2),
       |sc AS (SELECT am.doc_id,
       |    CAST(floor(ln(
       |      (CASE WHEN coalesce(c1.c1, 0) > 0
       |        THEN greatest(4 * coalesce(c2.c2, 0) - 3, 0) * (ctot.ct + vsz.v)
       |          + 3 * coalesce(n1.n1, 0) * (coalesce(cont.cont, 0) + 1)
       |        ELSE coalesce(cont.cont, 0) + 1 END) * 1.0 /
       |      (CASE WHEN coalesce(c1.c1, 0) > 0
       |        THEN 4 * coalesce(c1.c1, 0) * (ctot.ct + vsz.v)
       |        ELSE ctot.ct + vsz.v END)) * 1000000.0 + 0.5) AS BIGINT) AS q
       |  FROM am LEFT JOIN c2 USING (m1, m2) LEFT JOIN c1 USING (m1)
       |  LEFT JOIN n1 USING (m1) LEFT JOIN cont USING (m2)
       |  CROSS JOIN ctot CROSS JOIN vsz)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST((-sum(q)) // count(*) AS BIGINT) AS kn_nll_unats
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** t34/st30's oracle: the shared gate/vocab CTEs, the trigram count
    * table over the vocab-mapped stream, the five derived lower-order
    * frames, and the exact two-level integer num/den per scored trigram
    * (the knTrigramScore formula verbatim). Every sum() is CAST back to
    * BIGINT at birth — the x01/t29 DuckDB HUGEINT-promotion lesson. */
  def kn3PerplexityOracleSql(docFilter: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w,
       |    (len(string_split(text, ' ')) BETWEEN 10 AND 100000
       |     AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
       |       / length(text) >= 0.6
       |     AND len(list_filter(string_split(text, ' '),
       |       x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2) AS keep
       |  FROM documents WHERE $docFilter),
       |vocab AS (SELECT tok FROM (SELECT unnest(w) AS tok FROM toks WHERE keep)
       |  GROUP BY tok HAVING count(*) >= 5),
       |vsz AS (SELECT count(*) + 1 AS v FROM vocab),
       |rm AS (SELECT
       |    CASE WHEN v1.tok IS NULL THEN '<unk>' ELSE rp.t1 END AS m1,
       |    CASE WHEN v2.tok IS NULL THEN '<unk>' ELSE rp.t2 END AS m2,
       |    CASE WHEN v3.tok IS NULL THEN '<unk>' ELSE rp.t3 END AS m3
       |  FROM (SELECT w[i] AS t1, w[i + 1] AS t2, w[i + 2] AS t3
       |        FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM toks
       |              WHERE keep AND len(w) >= 3)) rp
       |  LEFT JOIN vocab v1 ON rp.t1 = v1.tok
       |  LEFT JOIN vocab v2 ON rp.t2 = v2.tok
       |  LEFT JOIN vocab v3 ON rp.t3 = v3.tok),
       |c3 AS (SELECT m1, m2, m3, count(*) AS c3 FROM rm GROUP BY 1, 2, 3),
       |h3 AS (SELECT m1, m2, CAST(sum(c3) AS BIGINT) AS c2h,
       |    count(*) AS n1h FROM c3 GROUP BY 1, 2),
       |bcf AS (SELECT m2, m3, count(*) AS bcf FROM c3 GROUP BY 1, 2),
       |mid AS (SELECT m2, CAST(sum(bcf) AS BIGINT) AS bch,
       |    count(*) AS bn1 FROM bcf GROUP BY 1),
       |cont3 AS (SELECT m3, count(*) AS cont3 FROM bcf GROUP BY 1),
       |ctot AS (SELECT count(*) AS ct FROM bcf),
       |am AS (SELECT ap.doc_id,
       |    CASE WHEN v1.tok IS NULL THEN '<unk>' ELSE ap.t1 END AS m1,
       |    CASE WHEN v2.tok IS NULL THEN '<unk>' ELSE ap.t2 END AS m2,
       |    CASE WHEN v3.tok IS NULL THEN '<unk>' ELSE ap.t3 END AS m3
       |  FROM (SELECT doc_id, w[i] AS t1, w[i + 1] AS t2, w[i + 2] AS t3
       |        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
       |              FROM toks WHERE len(w) >= 3)) ap
       |  LEFT JOIN vocab v1 ON ap.t1 = v1.tok
       |  LEFT JOIN vocab v2 ON ap.t2 = v2.tok
       |  LEFT JOIN vocab v3 ON ap.t3 = v3.tok),
       |lvl2 AS (SELECT am.doc_id,
       |    coalesce(c3.c3, 0) AS c3v, coalesce(h3.c2h, 0) AS c2hv,
       |    coalesce(h3.n1h, 0) AS n1hv,
       |    CASE WHEN coalesce(mid.bch, 0) > 0
       |      THEN greatest(4 * coalesce(bcf.bcf, 0) - 3, 0) * (ctot.ct + vsz.v)
       |        + 3 * coalesce(mid.bn1, 0) * (coalesce(cont3.cont3, 0) + 1)
       |      ELSE coalesce(cont3.cont3, 0) + 1 END AS num2,
       |    CASE WHEN coalesce(mid.bch, 0) > 0
       |      THEN 4 * coalesce(mid.bch, 0) * (ctot.ct + vsz.v)
       |      ELSE ctot.ct + vsz.v END AS den2
       |  FROM am LEFT JOIN c3 USING (m1, m2, m3) LEFT JOIN h3 USING (m1, m2)
       |  LEFT JOIN bcf USING (m2, m3) LEFT JOIN mid USING (m2)
       |  LEFT JOIN cont3 USING (m3)
       |  CROSS JOIN ctot CROSS JOIN vsz),
       |sc AS (SELECT doc_id,
       |    CAST(floor(ln(
       |      (CASE WHEN c2hv > 0
       |        THEN greatest(4 * c3v - 3, 0) * den2 + 3 * n1hv * num2
       |        ELSE num2 END) * 1.0 /
       |      (CASE WHEN c2hv > 0 THEN 4 * c2hv * den2 ELSE den2 END))
       |      * 1000000.0 + 0.5) AS BIGINT) AS q
       |  FROM lvl2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |  CAST((-sum(q)) // count(*) AS BIGINT) AS kn3_nll_unats
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
