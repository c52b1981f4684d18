package graft.queries

import org.apache.spark.sql.functions._

import graft.tables.Tables

/**
 * Corpus-curation operators round 5 (second pack): exact long-span
 * duplication census (the Lee et al. 2021 "Deduplicating Training Data"
 * signal), temperature-scaled language mixing (the multilingual
 * pretraining sampling rule), and incremental snapshot deduplication
 * (the daily-ingest pattern: dedup a new batch against the existing
 * corpus without rereading it into one giant groupBy).
 */
object CorpusOps2 {

  /** Canonical normalization shared with t08/dc02 (lowercase, strip
    * non-alphanumerics, collapse space runs, trim). */
  private def normText = trim(regexp_replace(
    regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))

  val queries: Seq[Q] = Seq(
    Q(
      "d09_span_dedup",
      (s, dir) => {
        // Exact long-span duplication (Lee et al. 2021): a document
        // containing any 6-token window that also appears in ANOTHER
        // document carries memorizable boilerplate. The whole pipeline
        // (narrow window assembly, pre-shuffle 52-bit hashing, shared-
        // scan two-level census — skew-safe where a window-over-hash is
        // not) lives in Dedup.spanCensus; the viral-span degenerate
        // case is spec'd in OpsSpec.
        graft.ops.Dedup.spanCensus(
          Tables(s, dir).documents, "doc_id", "text", w = 6)
          .select("doc_id", "n_spans", "n_shared")
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |  WHERE len(string_split(text, ' ')) >= 6),
             |spans AS (SELECT DISTINCT doc_id,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(13), j -> CAST(strpos('0123456789abcdef',
             |        substr(md5(array_to_string(t[i:i+5], ' ')), j + 1, 1)) - 1 AS BIGINT))),
             |      (a, c) -> a * 16 + c) AS h
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 4)) AS i FROM toks)),
             |census AS (SELECT h, count(*) AS nd FROM spans GROUP BY 1)
             |SELECT doc_id, count(*) AS n_spans,
             |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
             |FROM spans JOIN census USING (h)
             |GROUP BY doc_id
             |HAVING sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) > 0
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "d09b_span_dedup_fullkey",
      (s, dir) => {
        // d09 with the 104-bit span key (both 52-bit md5 planes): the
        // collision-proof path for real 100 TB span counts, where the
        // single 52-bit key's ~2^26 birthday bound starts inflating
        // shared-span counts. At test scale the censuses agree (spec'd);
        // this gate proves the two-plane keying machinery end to end.
        graft.ops.Dedup.spanCensus(
          Tables(s, dir).documents, "doc_id", "text", w = 6,
          fullWidthKeys = true)
          .select("doc_id", "n_spans", "n_shared")
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |  WHERE len(string_split(text, ' ')) >= 6),
             |spans AS (SELECT DISTINCT doc_id,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(13), j -> CAST(strpos('0123456789abcdef',
             |        substr(md5(array_to_string(t[i:i+5], ' ')), j + 1, 1)) - 1 AS BIGINT))),
             |      (a, c) -> a * 16 + c) AS h,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(13), j -> CAST(strpos('0123456789abcdef',
             |        substr(md5(array_to_string(t[i:i+5], ' ')), j + 14, 1)) - 1 AS BIGINT))),
             |      (a, c) -> a * 16 + c) AS h2
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 4)) AS i FROM toks)),
             |census AS (SELECT h, h2, count(*) AS nd FROM spans GROUP BY 1, 2)
             |SELECT doc_id, count(*) AS n_spans,
             |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
             |FROM spans JOIN census USING (h, h2)
             |GROUP BY doc_id
             |HAVING sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) > 0
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "st05_stream_span_dedup",
      (s, dir) => {
        // The STREAMING span-dedup twin under the DuckDB oracle (st01's
        // pattern): d09's corpus arrives as two id-ordered MemoryStream
        // micro-batches through SpanStream.sharedSpans (per-span-hash
        // fMGWS membership state; a span's FIRST holder is emitted
        // retroactively the moment a second doc shares it). Cross-batch
        // shared spans — first holder in batch 1, second in batch 2 —
        // only emit if the per-hash state persisted. The drained
        // (h, doc_id) memberships roll up to each doc's shared-span
        // count, which must hash-match the batch census (d09's oracle
        // minus the n_spans column, which needs every span, not just
        // shared ones). Corpus = the 500 base docs (SF-independent;
        // ScaleGen replicas sit at r*1e7). collect() is the
        // MemoryStream feeding harness; production uses readStream.
        import graft.streaming.SpanStream
        implicit val sqlCtx = s.sqlContext
        implicit val dEnc = org.apache.spark.sql.Encoders.product[SpanStream.Doc]
        val rows = Tables(s, dir).documents
          .filter(col("doc_id") < 500)
          .select(col("doc_id"), col("text"))
          .orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[SpanStream.Doc]
        val chunk = math.max(1, (rows.length + 1) / 2)
        val spans = StreamReplay(s,
            SpanStream.sharedSpans(stream.toDS(), watermark = "10 minutes"),
            "st05_spans")(
          rows.grouped(chunk).zipWithIndex.map { case (batch, i) => () =>
            stream.addData(batch.map { case (id, t) =>
              SpanStream.Doc(id, t,
                java.sql.Timestamp.valueOf(f"2024-01-01 10:$i%02d:00"))
            })
          })
        // at-least-once on viral spans -> distinct restores exactly-once
        spans.select("h", "doc_id").distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |  WHERE doc_id < 500 AND len(string_split(text, ' ')) >= 6),
             |spans AS (SELECT DISTINCT doc_id,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(13), j -> CAST(strpos('0123456789abcdef',
             |        substr(md5(array_to_string(t[i:i+5], ' ')), j + 1, 1)) - 1 AS BIGINT))),
             |      (a, c) -> a * 16 + c) AS h
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 4)) AS i FROM toks)),
             |census AS (SELECT h, count(*) AS nd FROM spans GROUP BY 1)
             |SELECT doc_id, count(*) AS n_shared
             |FROM spans JOIN census USING (h)
             |WHERE nd > 1
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "p09_temperature_mix",
      (s, dir) => {
        // Temperature-scaled language mixing (the multilingual
        // pretraining sampling rule, T=2 i.e. alpha=1/2): language l
        // gets mass p_l ∝ count_l^alpha, so low-resource languages are
        // up-sampled relative to their share. Each doc keeps
        // deterministically iff its salted portable hash falls under the
        // per-language threshold floor(min(1, N·p_l/c_l)·2^52) — pure
        // per-row hash arithmetic (reruns/backfills/engines agree), no
        // rand(), no global shuffle; the per-language thresholds are a
        // model-sized broadcast. A threshold ulp wobble (sqrt-sum order)
        // only flips a doc whose 52-bit hash EQUALS the boundary integer
        // — ~n/2^52 odds. Output: per-language census of the mix.
        val docs = Tables(s, dir).documents
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("c"))
        val z = counts.agg(sum(sqrt(col("c"))).as("z"))
        val probs = counts.crossJoin(z)
          .select(col("lang"), col("c"),
            floor(least(lit(1.0), lit(200.0) * (sqrt(col("c")) / col("z")) / col("c"))
              * lit(4503599627370496.0)).cast("long").as("thr"))
        val h = graft.functions.VectorExpressions.md5Hash52(
          concat(lit("p09:"), col("doc_id").cast("string")))
        val kept = docs.join(broadcast(probs.select("lang", "thr")), "lang")
          .where(h < col("thr"))
          .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        probs.join(kept, Seq("lang"), "left")
          .select(col("lang"), col("c").as("n_docs"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy("lang")
      },
      Some("""WITH counts AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
             |z AS (SELECT sum(sqrt(c)) AS z FROM counts),
             |probs AS (SELECT lang, c,
             |    CAST(floor(least(1.0, 200.0 * (sqrt(c) / z) / c)
             |      * 4503599627370496.0) AS BIGINT) AS thr
             |  FROM counts CROSS JOIN z),
             |kept AS (SELECT d.lang FROM documents d JOIN probs p USING (lang)
             |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(13), j -> CAST(strpos('0123456789abcdef',
             |        substr(md5('p09:' || CAST(d.doc_id AS VARCHAR)), j + 1, 1)) - 1 AS BIGINT))),
             |      (a, c) -> a * 16 + c) < p.thr)
             |SELECT p.lang, p.c AS n_docs, CAST(coalesce(k.n, 0) AS BIGINT) AS n_kept
             |FROM probs p LEFT JOIN (SELECT lang, count(*) AS n FROM kept GROUP BY 1) k
             |  USING (lang)
             |ORDER BY p.lang""".stripMargin)),

    Q(
      "p10_shuffle_shards",
      (s, dir) => {
        // Deterministic global TRAINING SHUFFLE — the last step before
        // packing: each doc's salted 52-bit hash is both its shard
        // assignment (hash mod shards — capacity-balanced in
        // expectation) and its position key WITHIN the shard (ordering
        // by a hash of the id IS the shuffle), so any engine, rerun, or
        // backfill reproduces the exact same epoch order with no
        // rand() and no global sort — the only sort is per-shard, and
        // parallelism = shard count (size it to writer tasks, like
        // p05's buckets). Output: doc order within each of 8 shards.
        val nShards = 8
        val h = graft.functions.VectorExpressions.md5Hash52(
          concat(lit("shuf:"), col("doc_id").cast("string")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("h", "doc_id")
        Tables(s, dir).documents
          .select(col("doc_id"), h.as("h"))
          .withColumn("shard", pmod(col("h"), lit(nShards.toLong)).cast("int"))
          .withColumn("pos", row_number().over(w))
          .select("shard", "pos", "doc_id")
          .orderBy("shard", "pos")
      },
      Some(s"""WITH keyed AS (SELECT doc_id,
             |    ${OracleSql.md5Fold52("'shuf:' || CAST(doc_id AS VARCHAR)")} AS h
             |  FROM documents)
             |SELECT CAST(h % 8 AS INT) AS shard,
             |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos,
             |  doc_id
             |FROM keyed
             |ORDER BY shard, pos""".stripMargin)),

    Q(
      "p11_token_budget",
      (s, dir) => {
        // Data-budget planning (the Chinchilla-recipe table): given a
        // 10M-token training budget and a T=2 temperature mix over
        // sources (share ∝ √tokens, p09's rule applied to token mass),
        // how many tokens each source must contribute and how many
        // EPOCHS of it that means (> 1 ⇒ the mix up-samples a small
        // source beyond one pass — the decision this table exists to
        // surface). √tokens quantizes to integer 1e-6 units BEFORE the
        // normalizer sum (t17's trick), so shares divide identical
        // exact integers in both engines; per-source token mass is one
        // map-side-combinable aggregate, everything after is
        // sources-sized.
        val docs = Tables(s, dir).documents
        val bySrc = docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
          .withColumn("sq",
            floor(sqrt(col("n_tokens").cast("double")) * 1e6 + lit(0.5)).cast("long"))
        val z = bySrc.agg(sum("sq").as("z"))
        bySrc.crossJoin(broadcast(z))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            fround(lit(1e7) * col("sq").cast("double") / col("z"), 2)
              .as("need_tokens"),
            fround(lit(1e7) * col("sq").cast("double") / col("z")
              / col("n_tokens"), 4).as("epochs"))
          .orderBy("source")
      },
      Some("""WITH bysrc AS (SELECT source, count(*) AS n_docs,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |sq AS (SELECT source, n_docs, n_tokens,
             |    CAST(floor(sqrt(n_tokens) * 1e6 + 0.5) AS BIGINT) AS sq
             |  FROM bysrc),
             |z AS (SELECT sum(sq) AS z FROM sq)
             |SELECT source, n_docs, n_tokens,
             |  floor(10000000.0 * sq / z * 100.0 + 0.5) / 100.0 AS need_tokens,
             |  floor(10000000.0 * sq / z / n_tokens * 10000.0 + 0.5) / 10000.0 AS epochs
             |FROM sq CROSS JOIN z ORDER BY source""".stripMargin)),

    Q(
      "p18_curriculum_shards",
      (s, dir) => {
        // CURRICULUM shard ordering — the data-ordering leg of
        // curriculum learning (Bengio et al. 2009 applied to corpus
        // prep): p10's deterministic hash shards, each scored by mean
        // document quality (stopword density in integer ppm — the
        // cheap row-local proxy; swap in t25's learned score for the
        // production run), emitted in easy-first order so the trainer
        // streams shard 1..N as its curriculum. Everything is one
        // narrow scan + one shards-sized aggregate + one
        // shards-sized window; INTEGER end to end (per-doc ppm floor,
        // per-shard mean by floor division), so the ordering can
        // never flip on an engine's float summation order.
        val nShards = 8
        val h = graft.functions.VectorExpressions.md5Hash52(
          concat(lit("shuf:"), col("doc_id").cast("string")))
        val w = split(col("text"), " ")
        val scored = Tables(s, dir).documents
          .select(pmod(h, lit(nShards.toLong)).cast("int").as("shard"),
            size(filter(w, t => t.isin("the", "a", "of", "and", "to",
              "in", "is", "it"))).cast("long").as("n_stop"),
            size(w).cast("long").as("n_tok"))
          .select(col("shard"), expr("n_stop * 1000000 div n_tok").as("q_ppm"))
        scored.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(q_ppm) div count(*)").as("mean_q_ppm"))
          .withColumn("curriculum_pos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("mean_q_ppm").desc, col("shard"))).cast("int"))
          .select("curriculum_pos", "shard", "n_docs", "mean_q_ppm")
          .orderBy("curriculum_pos")
      },
      Some(s"""WITH scored AS (SELECT
             |    CAST(${OracleSql.md5Fold52("'shuf:' || CAST(doc_id AS VARCHAR)")}
             |      % 8 AS INT) AS shard,
             |    CAST(len(list_filter(string_split(text, ' '),
             |        x -> x IN ('the','a','of','and','to','in','is','it')))
             |      * 1000000 // len(string_split(text, ' ')) AS BIGINT) AS q_ppm
             |  FROM documents),
             |shards AS (SELECT shard, count(*) AS n_docs,
             |    CAST(sum(q_ppm) // count(*) AS BIGINT) AS mean_q_ppm
             |  FROM scored GROUP BY 1)
             |SELECT CAST(row_number() OVER (ORDER BY mean_q_ppm DESC, shard)
             |    AS INT) AS curriculum_pos,
             |  shard, n_docs, mean_q_ppm
             |FROM shards ORDER BY curriculum_pos""".stripMargin)),

    Q(
      "p13_softdedup_weights",
      (s, dir) => {
        // SOFT dedup (the DataComp-LM move): duplicates are kept but
        // DOWNWEIGHTED — each member of a c-way exact-duplicate cluster
        // gets sampling weight floor(1e6/c) ppm, so the cluster
        // contributes one document's worth of training probability mass
        // while the natural distribution survives (vs d01's hard
        // removal). Keyed by the engine-portable 52-bit md5 of the
        // text, so the census shuffle carries hashes, not documents;
        // p08's weighted sampler consumes weight_ppm directly.
        graft.ops.Dedup.softDedupWeights(
          Tables(s, dir).documents, "doc_id",
          graft.functions.VectorExpressions.md5Hash52(col("text")))
          .select(col("id").as("doc_id"), col("dup_count"), col("weight_ppm"))
          .orderBy("doc_id")
      },
      Some(s"""WITH keyed AS (SELECT doc_id,
             |    ${OracleSql.md5Fold52("text")} AS k FROM documents),
             |census AS (SELECT k, count(*) AS dup_count
             |  FROM keyed GROUP BY k)
             |SELECT doc_id, CAST(dup_count AS BIGINT) AS dup_count,
             |  CAST(1000000 // dup_count AS BIGINT) AS weight_ppm
             |FROM keyed JOIN census USING (k)
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "p14_weighted_clean_mix",
      (s, dir) => {
        // The SOFT curation recipe end to end (p12 composes the HARD
        // one): graded contamination (t23) gates docs under a 10%
        // 4-gram-overlap threshold — docs too short to score carry no
        // contamination evidence and pass — then soft dedup (p13)
        // weights survivors by 1/dup-count, and the per-source
        // accounting reports raw vs kept vs EFFECTIVE size (docs in
        // ppm, tokens via the exact integer sum of ntok·weight_ppm
        // div 1e6) — the table a data-mixture owner actually reads.
        // One Catalyst plan: bench n-grams broadcast, census keyed by
        // the 52-bit md5, every aggregate map-side combinable.
        import graft.functions.VectorExpressions.md5Hash52
        val d = Tables(s, dir).documents
        val bench = d.filter(col("doc_id") % 23 === 0)
        val corpus = d.filter(col("doc_id") % 23 =!= 0)
        val scores = graft.ops.TextAnalysis.contaminationScore(
          corpus, bench, "doc_id", "text", n = 4)
        val kept = corpus
          .join(scores.select(col("doc_id"), col("overlap_ppm")), Seq("doc_id"), "left")
          .filter(coalesce(col("overlap_ppm"), lit(0L)) < 100000)
        val weights = graft.ops.Dedup.softDedupWeights(
          kept, "doc_id", md5Hash52(col("text")))
        val raw = corpus.groupBy("source").agg(count(lit(1)).as("n_raw"))
        kept.select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("ntok"))
          .join(weights.select(col("id").as("doc_id"), col("weight_ppm")), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum("weight_ppm").as("eff_docs_ppm"),
            sum(col("ntok") * col("weight_ppm")).as("twsum"))
          .join(raw, "source")
          .select(col("source"), col("n_raw"), col("n_kept"),
            col("eff_docs_ppm"),
            expr("twsum div 1000000").as("eff_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents),
             |ng AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 4 + 2),
             |         i -> list_aggregate(w[i:i+3], 'string_agg', ' '))) AS ngram
             |       FROM toks WHERE len(w) >= 4),
             |bench AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 23 = 0),
             |scored AS (SELECT n.doc_id, count(*) AS n_grams,
             |    count(b.ngram) AS n_hits
             |  FROM ng n LEFT JOIN bench b ON n.ngram = b.ngram
             |  WHERE n.doc_id % 23 <> 0 GROUP BY n.doc_id),
             |corpus AS (SELECT doc_id, source, text,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents WHERE doc_id % 23 <> 0),
             |kept AS (SELECT c.doc_id, c.source, c.text, c.ntok
             |  FROM corpus c LEFT JOIN scored s USING (doc_id)
             |  WHERE coalesce((s.n_hits * 1000000) // s.n_grams, 0) < 100000),
             |keyed AS (SELECT doc_id, source, ntok,
             |    ${OracleSql.md5Fold52("text")} AS k FROM kept),
             |census AS (SELECT k, count(*) AS c FROM keyed GROUP BY k),
             |wtd AS (SELECT doc_id, source, ntok, 1000000 // c AS wppm
             |  FROM keyed JOIN census USING (k)),
             |raw AS (SELECT source, count(*) AS n_raw FROM corpus GROUP BY 1)
             |SELECT w.source, CAST(r.n_raw AS BIGINT) AS n_raw,
             |  CAST(count(*) AS BIGINT) AS n_kept,
             |  CAST(sum(wppm) AS BIGINT) AS eff_docs_ppm,
             |  CAST(sum(ntok * wppm) // 1000000 AS BIGINT) AS eff_tokens
             |FROM wtd w JOIN raw r USING (source)
             |GROUP BY w.source, r.n_raw ORDER BY source""".stripMargin)),

    Q(
      "p15_source_datacard",
      (s, dir) => {
        // Per-source DATA CARD — the one-page profile a dataset owner
        // publishes per ingest source (Gebru et al. 2021 "Datasheets
        // for Datasets", the per-source accounting every curation
        // report opens with), composed from the family's own signals
        // so the card and the pipeline can never disagree: volume
        // (docs, whitespace tokens, exact integer mean), language mix
        // (distinct langs + plurality lang with min-lang tie-break and
        // its ppm share), t16's quality-gate pass rate, within-source
        // exact-dup rate (n_docs − distinct md5 keys), and dc01's
        // benchmark 4-gram contamination rate. Scale shape: every leg
        // is a map-side-combinable per-source aggregate over one scan
        // of the corpus — the lang plurality adds one (source, lang)
        // key step, contamination reuses decontaminate's broadcast
        // n-gram probe (ids-only output) joined back to the doc→source
        // spine; the final join fans 20 source-sized frames together.
        // Integer end to end (ppm and x1e3 fields via BIGINT div).
        val d = Tables(s, dir).documents
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val passes = (nTok.between(10, 100000) && alphaRatio >= 0.6 &&
          stopHits >= lit(2)).cast("long")
        val stats = d.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(nTok.cast("long")).as("total_tokens"),
          sum(passes).as("n_pass"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          countDistinct(col("lang")).as("n_langs"))
        val langTop = d.groupBy("source", "lang")
          .agg(count(lit(1)).as("n"))
          .groupBy("source")
          .agg(min(struct((-col("n")).as("negn"), col("lang").as("lang"))).as("b"))
          .select(col("source"), col("b.lang").as("top_lang"),
            (-col("b.negn")).as("top_n"))
        val cont = graft.ops.TextAnalysis.decontaminate(
            d.filter(col("doc_id") % 23 =!= 0), d.filter(col("doc_id") % 23 === 0),
            "doc_id", "text", n = 4)
          .join(d.select(col("doc_id"), col("source")), "doc_id")
          .groupBy("source").agg(count(lit(1)).as("n_cont"))
        stats.join(langTop, "source").join(cont, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("total_tokens"),
            expr("total_tokens * 1000 div n_docs").as("avg_tokens_x1e3"),
            col("n_langs"), col("top_lang"),
            expr("top_n * 1000000 div n_docs").as("top_lang_ppm"),
            expr("n_pass * 1000000 div n_docs").as("gate_pass_ppm"),
            expr("(n_docs - n_distinct) * 1000000 div n_docs").as("exact_dup_ppm"),
            expr("coalesce(n_cont, CAST(0 AS BIGINT)) * 1000000 div n_docs")
              .as("contaminated_ppm"))
          .orderBy("source")
      },
      Some("""WITH stats AS (SELECT source, count(*) AS n_docs,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             |    CAST(sum(CAST(len(string_split(text, ' ')) BETWEEN 10 AND 100000
             |      AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
             |        / length(text) >= 0.6
             |      AND len(list_filter(string_split(text, ' '),
             |        x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2
             |      AS INT)) AS BIGINT) AS n_pass,
             |    count(DISTINCT md5(text)) AS n_distinct,
             |    count(DISTINCT lang) AS n_langs
             |  FROM documents GROUP BY source),
             |lt AS (SELECT source, lang, count(*) AS n
             |  FROM documents GROUP BY 1, 2),
             |top AS (SELECT source, lang AS top_lang, n AS top_n FROM (
             |    SELECT *, row_number() OVER (PARTITION BY source
             |      ORDER BY n DESC, lang) AS rn FROM lt) WHERE rn = 1),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |ng AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 4 + 2),
             |         i -> list_aggregate(w[i:i+3], 'string_agg', ' '))) AS ngram
             |       FROM toks WHERE len(w) >= 4),
             |bench AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 23 = 0),
             |cids AS (SELECT DISTINCT n.doc_id FROM ng n JOIN bench b
             |    ON n.ngram = b.ngram WHERE n.doc_id % 23 <> 0),
             |cont AS (SELECT d.source, count(*) AS n_cont
             |  FROM cids c JOIN documents d USING (doc_id) GROUP BY 1)
             |SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs, s.total_tokens,
             |  s.total_tokens * 1000 // s.n_docs AS avg_tokens_x1e3,
             |  CAST(s.n_langs AS BIGINT) AS n_langs, t.top_lang,
             |  t.n * 1000000 // s.n_docs AS top_lang_ppm,
             |  s.n_pass * 1000000 // s.n_docs AS gate_pass_ppm,
             |  (s.n_docs - s.n_distinct) * 1000000 // s.n_docs AS exact_dup_ppm,
             |  coalesce(c.n_cont, 0) * 1000000 // s.n_docs AS contaminated_ppm
             |FROM stats s
             |JOIN (SELECT source, top_lang, top_n AS n FROM top) t USING (source)
             |LEFT JOIN cont c USING (source)
             |ORDER BY source""".stripMargin)),

    Q(
      "t18_zipf_slope",
      (s, dir) => {
        // Per-source Zipf slope — the power-law corpus-QA statistic
        // (natural text ≈ −1; templated/synthetic text deviates): OLS
        // slope of ln(freq) on ln(rank) over each source's top-200
        // terms. The top-200 come from the native TopK HEAP (a
        // row_number window over a source's full vocabulary would sort
        // hundreds of millions of terms in one partition at 100 TB);
        // the rank window then runs over ≤200 rows/source. Both ln()s
        // quantize to integer 1e-6 units BEFORE the sums (t17's trick:
        // an engine ulp flips a quantized value only within ~1e-16 of
        // a boundary), so Σx, Σy, Σxy, Σx² are exact integers and the
        // final slope arithmetic starts from identical longs in both
        // engines (cast to double BEFORE multiplying — n·Σxy overflows
        // a long).
        val docs = Tables(s, dir).documents
        val tf = docs
          .select(col("source"), explode(split(col("text"), " ")).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("f"))
        val top = graft.plans.TopK.perGroup(
          tf, Seq(col("source")), col("f"), col("term"), k = 200)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("f").desc, col("term"))
        val q = top
          .withColumn("r", row_number().over(w))
          .select(col("source"),
            floor(log(col("r").cast("double")) * 1e6 + 0.5).cast("long").as("xq"),
            floor(log(col("f").cast("double")) * 1e6 + 0.5).cast("long").as("yq"))
        val d = (c: org.apache.spark.sql.Column) => c.cast("double")
        q.groupBy("source")
          .agg(count(lit(1)).as("n_terms"),
            sum("xq").as("sx"), sum("yq").as("sy"),
            sum(col("xq") * col("yq")).as("sxy"),
            sum(col("xq") * col("xq")).as("sxx"))
          .select(col("source"), col("n_terms"),
            fround((d(col("n_terms")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
              / (d(col("n_terms")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))), 4)
              .as("zipf_slope"))
          .orderBy("source")
      },
      Some("""WITH tf AS (SELECT source, term, count(*) AS f
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
             |  GROUP BY 1, 2),
             |rk AS (SELECT source, f,
             |    row_number() OVER (PARTITION BY source ORDER BY f DESC, term) AS r
             |  FROM tf),
             |q AS (SELECT source,
             |    CAST(floor(ln(r) * 1e6 + 0.5) AS BIGINT) AS xq,
             |    CAST(floor(ln(f) * 1e6 + 0.5) AS BIGINT) AS yq
             |  FROM rk WHERE r <= 200),
             |s AS (SELECT source, count(*) AS n_terms,
             |    sum(xq) AS sx, sum(yq) AS sy,
             |    sum(xq * yq) AS sxy, sum(xq * xq) AS sxx
             |  FROM q GROUP BY 1)
             |SELECT source, n_terms,
             |  floor((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
             |    AS zipf_slope
             |FROM s ORDER BY source""".stripMargin)),

    Q(
      "t19_pmi_collocations",
      (s, dir) => {
        // Collocation extraction by pointwise mutual information —
        // PMI(a,b) = ln(c_ab·N / (c_a·c_b)) over adjacent word pairs
        // with a minimum pair count (the classic multiword-expression
        // / stopword-structure signal). Bigrams assemble with t04's
        // narrow positional explode; each ln() quantizes to integer
        // 1e-6 units separately (t18's trick) so the PMI score is an
        // exact integer SUM of quantized logs in both engines; the
        // unigram join stays shuffle-side (vocabulary-sized at 100 TB)
        // while N rides as a broadcast 1-row aggregate; global top-20
        // through the native heap.
        val toks = Tables(s, dir).documents
          .select(split(col("text"), " ").as("toks"))
        val positions = when(size(col("toks")) >= 2,
          sequence(lit(1), size(col("toks")) - 1)).otherwise(array().cast("array<int>"))
        val bi = toks
          .select(col("toks"), explode(positions).as("pos"))
          .select(element_at(col("toks"), col("pos")).as("a"),
            element_at(col("toks"), col("pos") + 1).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("cab"))
          .filter(col("cab") >= 5)
        val uni = Tables(s, dir).documents
          .select(explode(split(col("text"), " ")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        val n = uni.agg(sum("c").as("n"))
        def lq(c: org.apache.spark.sql.Column) =
          floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
        val scored = bi
          .join(uni.select(col("t").as("a"), col("c").as("ca")), "a")
          .join(uni.select(col("t").as("b"), col("c").as("cb")), "b")
          .crossJoin(broadcast(n))
          .select(concat_ws(" ", col("a"), col("b")).as("bigram"), col("cab"),
            (lq(col("cab")) + lq(col("n")) - lq(col("ca")) - lq(col("cb"))).as("pmi_u"))
        graft.plans.TopK.perGroup(scored, Seq.empty, col("pmi_u"), col("bigram"), k = 20)
          .select(col("bigram"), col("cab"),
            fround(col("pmi_u").cast("double") / 1e6, 4).as("pmi"))
          .orderBy(col("pmi").desc, col("bigram"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |expl AS (SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS tok FROM toks),
             |bi AS (SELECT a.tok AS a, b.tok AS b, count(*) AS cab
             |  FROM expl a JOIN expl b ON a.doc_id = b.doc_id AND b.i = a.i + 1
             |  GROUP BY 1, 2 HAVING count(*) >= 5),
             |uni AS (SELECT tok AS t, count(*) AS c FROM expl GROUP BY 1),
             |n AS (SELECT sum(c) AS n FROM uni),
             |scored AS (SELECT bi.a || ' ' || bi.b AS bigram, cab,
             |    CAST(floor(ln(cab) * 1e6 + 0.5) AS BIGINT)
             |      + CAST(floor(ln(n) * 1e6 + 0.5) AS BIGINT)
             |      - CAST(floor(ln(ua.c) * 1e6 + 0.5) AS BIGINT)
             |      - CAST(floor(ln(ub.c) * 1e6 + 0.5) AS BIGINT) AS pmi_u
             |  FROM bi JOIN uni ua ON bi.a = ua.t JOIN uni ub ON bi.b = ub.t
             |  CROSS JOIN n),
             |top AS (SELECT bigram, cab, pmi_u,
             |    row_number() OVER (ORDER BY pmi_u DESC, bigram) AS rn
             |  FROM scored)
             |SELECT bigram, cab, floor(pmi_u / 1e6 * 10000.0 + 0.5) / 10000.0 AS pmi
             |FROM top WHERE rn <= 20
             |ORDER BY pmi DESC, bigram""".stripMargin)),

    Q(
      "dc02_incremental_dedup",
      (s, dir) => {
        // Incremental snapshot dedup — the daily-ingest pattern: a new
        // batch (here doc_id % 5 = 0, a deterministic 20% slice) is
        // deduped within itself AND against the existing corpus, which
        // is never re-deduped. Both sides reduce to md5(normalized text)
        // BEFORE the shuffle, so the anti-join exchanges 32-hex keys,
        // never documents; at 100 TB both snapshots live bucketed by
        // this key (ops/Layout), making the anti-join exchange-free, and
        // a broadcast bloom of the batch keys (ops/BloomPrune, batch ≪
        // corpus) prunes the corpus scan to near-misses first.
        val keyed = Tables(s, dir).documents
          .select(col("doc_id"), md5(normText.cast("binary")).as("k"))
        val old = keyed.where(pmod(col("doc_id"), lit(5)) =!= 0)
          .select("k").distinct()
        val batch = keyed.where(pmod(col("doc_id"), lit(5)) === 0)
          .groupBy("k").agg(min("doc_id").as("doc_id"))
        batch.join(old, Seq("k"), "left_anti")
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH keyed AS (SELECT doc_id,
             |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             |      '  +', ' ', 'g'))) AS k
             |  FROM documents),
             |old AS (SELECT DISTINCT k FROM keyed WHERE doc_id % 5 <> 0),
             |batch AS (SELECT k, min(doc_id) AS doc_id FROM keyed WHERE doc_id % 5 = 0
             |  GROUP BY k)
             |SELECT doc_id FROM batch WHERE k NOT IN (SELECT k FROM old)
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "st11_stream_corpus_prep",
      (s, dir) => {
        // The STREAMING pretrain-prep twin (p07's flow) under the
        // DuckDB oracle: gate → watermarked exact dedup → md5 split →
        // running per-split accounting (CorpusStream.prepPipeline), fed
        // as two id-ordered MemoryStream micro-batches. Batch 2 replays
        // 50 batch-1 texts under shifted ids (d12's planted-dup trick):
        // they drop — and the per-split totals hash-match the batch
        // rollup — only if the dedup state SURVIVED the batch boundary.
        // Base texts are unique and arrive id-ordered, so the stream's
        // keep-first winner is the oracle's min(doc_id) winner, and the
        // planted ids (1000000+) would land in different splits than
        // their originals if kept, so a state loss cannot hash-cancel.
        // collect() is the MemoryStream feeding harness; production
        // uses readStream.
        import graft.streaming.CorpusStream
        implicit val sqlCtx = s.sqlContext
        implicit val dEnc = org.apache.spark.sql.Encoders.product[CorpusStream.Doc]
        val base = Tables(s, dir).documents
          .filter(col("doc_id") < 500)
          .select(col("doc_id").cast("long"), col("text"))
          .orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val batches = Seq(
          base.filter(_._1 < 250).toSeq,
          (base.filter(_._1 >= 250) ++
            base.filter(_._1 < 50).map { case (id, t) => (id + 1000000L, t) }).toSeq)
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[CorpusStream.Doc]
        val prep = StreamReplay(s,
            CorpusStream.prepPipeline(stream.toDS(), watermark = "1 hour"),
            "st11_prep", "update")(
          batches.zipWithIndex.map { case (batch, i) => () =>
            stream.addData(batch.map { case (id, t) =>
              CorpusStream.Doc(id,
                java.sql.Timestamp.valueOf(f"2024-01-01 10:$i%02d:00"), t)
            })
          })
        // update mode re-emits a split's row per refinement; the counts
        // are monotone, so the max per split is the final running total
        prep.groupBy("split")
          .agg(max("n_docs").as("n_docs"),
            max("total_tokens").as("total_tokens"))
          .orderBy("split")
      },
      Some("""WITH gated AS (
             |  SELECT * FROM documents
             |  WHERE doc_id < 500
             |    AND len(string_split(text, ' ')) >= 20
             |    AND len(list_filter(string_split(text, ' '),
             |          x -> x IN ('the','a','of','and','to','in','is','it'))) * 1.0
             |        / len(string_split(text, ' ')) <= 0.3)
             |SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
             |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
             |            ELSE 'test' END AS split,
             |  count(*) AS n_docs,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
             |FROM gated GROUP BY split ORDER BY split""".stripMargin)),

    Q(
      "t20_bpe_tokens",
      (s, dir) => {
        // BPE token accounting (ops/Bpe): per-doc subword token counts
        // under the FIXED merge table below — fixed (not re-trained per
        // run) so the oracle can replay the apply step exactly, the
        // a05/a07b pattern; BpeSpec pins the table AS the output of
        // Bpe.trainOnSample on the first 100 sf0.01 docs, so training
        // is end-to-end evidenced too. The oracle replays each merge in
        // rank order via a recursive CTE over the DISTINCT vocabulary
        // (a list_reduce fold per merge — provably the same greedy
        // left-to-right non-overlapping semantics, see Bpe doc) and
        // joins counts back to word occurrences, mirroring the Spark
        // side's per-partition vocabulary memo.
        graft.ops.Bpe.tokenCounts(
            Tables(s, dir).documents, "doc_id", "text", BpeFixedMerges)
          .where(col("n_words") > 0)
          .orderBy("doc_id")
      },
      Some(t20OracleSql)),

    Q(
      "t35_bpe_1k_fertility",
      (s, dir) => {
        // The PRODUCTION-SHAPED BPE gate (r13 verdict item 2): t20's
        // apply path under a 1024-merge table — 34× t20's 30 merges,
        // the scale where per-word encode cost (merges × symbols) and
        // the oracle's one-CTE-level-per-rank replay actually get
        // exercised. The documents corpus cannot host this gate (31
        // distinct words total — any table past ~89 merges collapses
        // every word to one token and the hash degenerates), so the
        // apply runs over the CUSTOMER NAME vocabulary (1500 distinct
        // digit-bearing words at sf0.01, 150k at sf1 — SF-scaling
        // where documents' vocab is SF-flat), rolled up per nation as
        // t32's fertility table. Same mapPartitions apply, same
        // per-partition word memo, same broadcast ranks — the memo
        // argument is STRONGER here because every occurrence is
        // distinct (names are unique), so the apply cost is exactly
        // vocab × merges with zero memo amortization: the worst case.
        val c = Tables(s, dir).customer
        graft.ops.Bpe.tokenCounts(c, "c_custkey", "c_name", BpeMerges1k)
          .where(col("n_words") > 0)
          .join(c.select("c_custkey", "c_nationkey"), "c_custkey")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_names"),
            sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"),
            min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"),
            expr("sum(n_tokens) * 10000 div sum(n_words)").as("fertility_bp"))
          .select(col("c_nationkey").as("nationkey"), col("n_names"),
            col("n_words"), col("n_tokens"), col("min_tokens"),
            col("max_tokens"), col("fertility_bp"))
          .orderBy("nationkey")
      },
      Some(t35OracleSql)),

    Q(
      "t32_tokenizer_fertility",
      (s, dir) => {
        // Tokenizer FERTILITY audit — subword tokens per word under
        // t20's fixed merge table, rolled up per language: the
        // compression-ratio table a tokenizer team reads before
        // committing a vocab (high-fertility languages pay more
        // sequence length per word, the signal behind per-language
        // vocab allocation and the NFC/byte-fallback decisions).
        // Reuses t20's per-doc BPE accounting verbatim (same merge
        // table, same normalization), so the only new cost over t20
        // is one language-keyed aggregate; fertility quantizes to
        // integer basis points by floor division — no float enters
        // the hash. At 100 TB the apply step stays the per-partition
        // vocabulary memo (distinct words, not occurrences).
        val d = Tables(s, dir).documents
        graft.ops.Bpe.tokenCounts(d, "doc_id", "text", BpeFixedMerges)
          .where(col("n_words") > 0)
          .join(d.select("doc_id", "lang"), "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"))
          .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
            expr("n_tokens * 10000 div n_words").as("fertility_bp"))
          .orderBy("lang")
      },
      Some(t32OracleSql)),

    Q(
      "t24_ngram_coverage",
      (s, dir) => {
        // Gopher's within-doc repetition family (Rae et al. 2021 Table
        // A1) as exact integer ppm: characters covered by the single
        // most-covering 2-/3-gram and by all DUPLICATED 5-grams, over
        // total characters. Complements t15 (distinct/total ratio —
        // how much is repeated at all) with how much character mass
        // the worst offenders carry; cover = count × chars is integer
        // end to end, so no float ever enters the hash. Shape: one
        // narrow positional-explode pass per n (t15's), map-side
        // combinable counts, id-keyed left joins back to the doc
        // spine (short docs score 0, not dropped).
        graft.ops.TextAnalysis.ngramCoverage(
            Tables(s, dir).documents, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
             |    CAST(length(text) AS BIGINT) AS n_chars
             |  FROM documents WHERE length(text) > 0),
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
             |       WHERE cnt >= 2 GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(coalesce(c2, 0) * 1000000 // n_chars AS BIGINT) AS top2_ppm,
             |  CAST(coalesce(c3, 0) * 1000000 // n_chars AS BIGINT) AS top3_ppm,
             |  CAST(coalesce(c5, 0) * 1000000 // n_chars AS BIGINT) AS dup5_ppm
             |FROM d LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
             |  LEFT JOIN c5 USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "t25_quality_classifier",
      (s, dir) => {
        // A LEARNED quality scorer distilled from the t16 heuristic
        // gate — the CCNet / DataComp-LM pattern (Wenzek et al. 2019;
        // Li et al. 2024: label documents with a cheap rule or seed
        // corpus, train a linear classifier over hashed text features,
        // keep the calibrated SCORE for soft filtering where the rule
        // only gave a hard 0/1). Features are the a18 hashing-TF
        // vectors L2-normalized per doc; the fit is 4 full-batch
        // quantized-GD rounds (`TextAnalysis.logisticFitGd` — mean
        // gradients snapped to the 1e-6 grid, so the oracle unrolls
        // all 4 rounds to bit-identical weights). Train AUC ≈ 0.97 at
        // sf0.01 (LogisticSpec asserts the floor), so the gate proves
        // the fit LEARNED, not just replayed. sharedScan: one
        // featurization feeds the count, 4 gradient passes, and the
        // scoring projection. (Pipeline shared with t43's calibration
        // audit — [[t25ScoredFrame]].)
        t25ScoredFrame(s, dir).orderBy("doc_id")
      },
      Some(t25OracleSql)),

    Q(
      "t27_quality_cv",
      (s, dir) => {
        // Deterministic k-FOLD CROSS-VALIDATION of the learned quality
        // classifier — the eval harness every learned-filter
        // deployment runs before trusting t25's scores (does the
        // model generalize, or did it memorize its slice?): folds are
        // md5-hash-assigned (p06's split discipline — stable under
        // reruns, backfills, engines), each fold's model fits on the
        // OTHER two via the same 4-round quantized-GD closed form,
        // and the held-out fold scores against its own frozen
        // weights. Output: per-fold test size, positive count,
        // correct count at the 0.5 threshold, accuracy ppm. One
        // sharedScan featurization feeds all three fits and all
        // three scoring passes; each fit is O(steps) map-side
        // treeAggregate scans — 3 folds = 12 passes, zero corpus
        // shuffles, the t25 scale shape times k.
        import org.apache.spark.sql.graftshim.InternalFrame
        val d = Tables(s, dir).documents
        val nTok = size(split(col("text"), " "))
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val y = (nTok.between(10, 100000) && alphaRatio >= 0.6 &&
          stopHits >= lit(2)).cast("int").cast("double")
        val fold = (graft.functions.VectorExpressions.md5Hash52(
          concat(lit("t27:"), col("doc_id").cast("string"))) % 3).cast("int")
        val feats = InternalFrame.sharedScan(
          graft.ops.TextAnalysis.hashingTf(d, "doc_id", "text", dim = 64)
            .join(d.select(col("doc_id"), y.as("y"), fold.as("fold")), "doc_id")
            .withColumn("nrm",
              sqrt(graft.ops.Similarity.dot(col("tf_vec"), col("tf_vec"))))
            .filter(col("nrm") > 0)
            .select(col("doc_id"), col("fold"), col("y"),
              transform(col("tf_vec"), e => e / col("nrm")).as("v")))
        // held-out metric = exact Mann-Whitney AUC (ties at half
        // weight), the threshold-free statistic — at 4 GD rounds the
        // sigmoid is uncalibrated around 0.5 (every test doc scores
        // positive there), so ranking quality IS the generalization
        // evidence. Integer-exact: counts group by the 1e-6-quantized
        // score FIRST (≤ 1e6+1 distinct values however large the test
        // fold — the rank window is bounded at any corpus size), then
        // U×2 = Σ p·(2·cum_neg_below + g) in longs.
        val perFold = (0 until 3).map { f =>
          val w = graft.ops.TextAnalysis.logisticFitGd(
            feats.filter(col("fold") =!= f), "v", "y",
            dim = 64, steps = 4, lr = 16.0).last.toSeq
          val scored = feats.filter(col("fold") === f)
            .select(col("y"),
              fround(lit(1.0) / (lit(1.0) +
                exp(-graft.ops.Similarity.dot(col("v"), typedlit(w)))), 6)
                .as("score"))
          graft.ops.TextAnalysis.aucPpm(scored, "y", "score")
            .select(lit(f).as("fold"), col("n_test"), col("n_pos"),
              col("auc_ppm"))
        }
        perFold.reduce(_.unionByName(_)).orderBy("fold")
      },
      Some(t27OracleSql)),

    Q(
      "t43_calibration_audit",
      (s, dir) => {
        // CALIBRATION audit of the learned quality scorer —
        // reliability bins + Brier score + expected calibration error
        // (Guo et al. 2017's ECE; Brier 1950), the standard check
        // before a classifier's SCORES (not just its ranking) drive a
        // soft-filtering decision like p13's downweighting: t27
        // already warned the 4-round sigmoid is uncalibrated, and
        // this query MEASURES it. Bins are integer deciles of the
        // micro score (least(9, sm div 1e5) — binning a float
        // reconstruction would put boundary scores in different bins
        // across engines); per bin the mean predicted vs empirical
        // positive rate, their gap, and the bin Brier; the global
        // Brier and n-weighted ECE ride every row (e22's shape).
        // Every statistic is exact integer arithmetic over the
        // micro scores t25 itself publishes — one groupBy over the
        // scored frame, nothing new touches the corpus.
        calibrationAssembly(calibrationBins(t25ScoredFrame(s, dir)))
      },
      Some(t43OracleSqlWhere("TRUE"))),

    Q(
      "st41_stream_calibration",
      (s, dir) => {
        // STREAMING calibration drift gauge — t43's reliability/
        // Brier/ECE census maintained AT INGEST over st21's frozen
        // scorer (the deployment where miscalibration is actually
        // caught: the model ships, the corpus mix moves, and the
        // dashboard reads the gap off running counters): each
        // arriving doc scores stateless (learnedQualityStream — the
        // st21 path exactly), bins by integer decile, and folds into
        // a complete-mode per-bin (n, n_pos, Σsm, Σ(sm−y)²) census —
        // state ≤ 10 counter rows forever, every counter an
        // associative integer merge ⇒ micro-batching-invariant
        // (st20's argument). The drained snapshot runs t43's static
        // assembly, so the stream bit-matches the batch audit on the
        // capped universe. collect() is the MemoryStream feeding
        // harness; production uses readStream.
        import org.apache.spark.sql.graftshim.InternalFrame
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val d = Tables(s, dir).documents.filter(col("doc_id") < 2000)
        val feats = InternalFrame.sharedScan(
          graft.ops.TextAnalysis.hashingTf(d, "doc_id", "text", dim = 64)
            .withColumn("nrm",
              sqrt(graft.ops.Similarity.dot(col("tf_vec"), col("tf_vec"))))
            .filter(col("nrm") > 0)
            .join(d.select(col("doc_id"),
              (size(split(col("text"), " ")).between(10, 100000) &&
                (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
                  .cast("double") / length(col("text")) >= 0.6 &&
                size(filter(split(col("text"), " "),
                  t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
                  >= lit(2)).cast("int").cast("double").as("y")), "doc_id")
            .select(col("doc_id"), col("y"),
              transform(col("tf_vec"), e => e / col("nrm")).as("v")))
        val w = graft.ops.TextAnalysis.logisticFitGd(
          feats, "v", "y", dim = 64, steps = 4, lr = 16.0).last.toSeq
        val rows = d.orderBy("doc_id").select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val census = calibrationBins(
          graft.streaming.CorpusStream.learnedQualityStream(
            stream.toDS().toDF("doc_id", "text"), "doc_id", "text", w, 64))
        val chunk = math.max(1, (rows.length + 1) / 2)
        calibrationAssembly(StreamReplay(s, census, "st41_cal", "complete")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq))))
      },
      Some(t43OracleSqlWhere("doc_id < 2000"))),

    Q(
      "st21_stream_quality_scoring",
      (s, dir) => {
        // STREAMING learned-quality scoring under the DuckDB oracle:
        // t25's classifier frozen and applied at ingest
        // (CorpusStream.learnedQualityStream — train-offline /
        // score-at-ingest, st08's deployment shape). The fit runs on
        // the STATIC corpus slice exactly as t25 runs it, the stream
        // scores row-locally against the broadcast-in-plan weights — a
        // stateless append whose drained sink hash-matches the capped
        // t25 oracle (stream ≡ batch row-identical, LogisticSpec).
        // The WHOLE query universe caps at doc_id < 2000, an ABSOLUTE
        // bound (st18/st22's discipline, a hash-no-op at the driver
        // SF where every doc_id < 500): a deployed scorer's training
        // slice is a FIXED artifact and the MemoryStream harness must
        // not scale with SF — pre-cap, the full corpus streamed
        // through the sink and the full fit re-ran first, making st21
        // the sweep's slowest entry at sf0.1 and quadratically worse
        // at sf1. collect() is the MemoryStream feeding harness.
        import org.apache.spark.sql.graftshim.InternalFrame
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        val d = Tables(s, dir).documents.filter(col("doc_id") < 2000)
        val feats = InternalFrame.sharedScan(
          graft.ops.TextAnalysis.hashingTf(d, "doc_id", "text", dim = 64)
            .withColumn("nrm",
              sqrt(graft.ops.Similarity.dot(col("tf_vec"), col("tf_vec"))))
            .filter(col("nrm") > 0)
            .join(d.select(col("doc_id"),
              (size(split(col("text"), " ")).between(10, 100000) &&
                (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
                  .cast("double") / length(col("text")) >= 0.6 &&
                size(filter(split(col("text"), " "),
                  t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
                  >= lit(2)).cast("int").cast("double").as("y")), "doc_id")
            .select(col("doc_id"), col("y"),
              transform(col("tf_vec"), e => e / col("nrm")).as("v")))
        val w = graft.ops.TextAnalysis.logisticFitGd(
          feats, "v", "y", dim = 64, steps = 4, lr = 16.0).last.toSeq
        val rows = d.orderBy("doc_id").select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            graft.streaming.CorpusStream.learnedQualityStream(
              stream.toDS().toDF("doc_id", "text"), "doc_id", "text", w, dim = 64),
            "st21_scores")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("doc_id")
      },
      Some(t25OracleSqlWhere("doc_id < 2000"))),

    Q(
      "st23_stream_source_quota",
      (s, dir) => {
        // STREAMING per-source quota admission under the DuckDB
        // oracle — p04's corpus quotas enforced AT INGEST
        // (CorpusStream.quotaAdmission): each source admits its first
        // `quota` docs BY ARRIVAL, later fetches drop before they
        // cost storage or dedup state; state is ONE integer per
        // source, the minimal-state end of the streaming family.
        // The feed is id-ordered in two micro-batches split at the
        // row median of the CAPPED universe (doc_id < 2000 absolute,
        // st18's discipline), so the wider quotas admit from BOTH
        // batches — the counter provably survives the state
        // boundary. Arrival order ≡ doc_id order, so the oracle is
        // the per-source row_number ≤ quota prefix. collect() is the
        // MemoryStream feeding harness.
        import graft.streaming.CorpusStream
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[CorpusStream.SourcedDoc]
        val quotas = (0 until 20).map(i => s"src$i" -> (5 * (i % 4 + 1))).toMap
        val rows = Tables(s, dir).documents.filter(col("doc_id") < 2000)
          .select(col("doc_id"), col("source")).orderBy("doc_id")
          .collect().map(r => CorpusStream.SourcedDoc(r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[CorpusStream.SourcedDoc]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            CorpusStream.quotaAdmission(stream.toDS(), quotas, defaultQuota = 5),
            "st23_admitted")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("doc_id")
      },
      Some(s"""WITH quotas(source, quota) AS (VALUES
             |  ${(0 until 20).map(i => s"('src$i', ${5 * (i % 4 + 1)})").mkString(", ")}),
             |u AS (SELECT doc_id, source FROM documents WHERE doc_id < 2000),
             |r AS (SELECT u.doc_id, u.source,
             |    row_number() OVER (PARTITION BY u.source ORDER BY u.doc_id) AS rn,
             |    q.quota
             |  FROM u JOIN quotas q USING (source))
             |SELECT doc_id, source FROM r WHERE rn <= quota
             |ORDER BY doc_id""".stripMargin)),

    Q(
      "st24_stream_drift",
      (s, dir) => {
        // STREAMING drift monitor under the DuckDB oracle — t28's PSI
        // audit as an INGEST gauge (the production deployment: the
        // reference histogram is a frozen offline artifact; the live
        // feed maintains running bin counters and the dashboard reads
        // PSI off the counters): the t16 gate runs in-stream
        // (stateless narrow filter), survivors fold into a
        // complete-mode per-bin census — state = AT MOST 10 counter
        // rows however long the stream runs — and the drained
        // snapshot joins the frozen reference for the same exact
        // integer PSI fold as t28. Integer counter merge makes the
        // result micro-batching-invariant (st20's argument). The
        // WHOLE universe caps at doc_id < 2000 ABSOLUTE (st18's
        // discipline); the reference fetch is 10 collected rows.
        // collect() is the MemoryStream feeding harness + that
        // model-sized reference.
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String)]
        import s.implicits._
        val d = Tables(s, dir).documents.filter(col("doc_id") < 2000)
        val nTok = size(split(col("text"), " "))
        val binTok = least(lit(9), nTok.cast("long") / 20L).cast("int")
        val refRows = d.select(binTok.as("bin")).groupBy("bin")
          .agg(count(lit(1)).as("nr"))
          .collect().map(r => (r.getInt(0), r.getLong(1)))
        val tRef = refRows.map(_._2).sum
        val rows = d.orderBy("doc_id").select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val alphaRatio =
          (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
            .cast("double") / length(col("text"))
        val stopHits = size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
        val gate = nTok.between(10, 100000) && alphaRatio >= 0.6 &&
          stopHits >= lit(2)
        val counts = stream.toDS().toDF("doc_id", "text")
          .filter(gate)
          .select(binTok.as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("nc"))
        val chunk = math.max(1, (rows.length + 1) / 2)
        val cur = StreamReplay(s, counts, "st24_bins", "complete")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
        val ref = refRows.toSeq.toDF("bin", "nr")
        val bins = s.range(0, 10).select(col("id").cast("int").as("bin"))
        bins.join(broadcast(ref), Seq("bin"), "left")
          .join(broadcast(cur), Seq("bin"), "left")
          .select(coalesce(col("nr"), lit(0L)).as("nr"),
            coalesce(col("nc"), lit(0L)).as("nc"))
          .crossJoin(cur.agg(sum("nc").as("tc")))
          .select(col("nr"), col("nc"),
            ((col("nr") + 1).cast("double") / (tRef + 10)).as("p"),
            ((col("nc") + 1).cast("double") / (col("tc") + 10)).as("q"))
          .select(col("nr"), col("nc"), col("p"), col("q"),
            (floor(log(col("p") / col("q")) * 1e6 + lit(0.5)) / 1e6).as("lnq"))
          .agg(sum(col("nr")).as("n_ref"), sum(col("nc")).as("n_cur"),
            sum(floor((col("p") - col("q")) * col("lnq") * 1e9 + lit(0.5))
              .cast("long")).as("psi_x1e9"))
          .select(lit("n_tokens").as("feature"), col("n_ref"), col("n_cur"),
            col("psi_x1e9"))
      },
      Some("""WITH base AS (SELECT
             |    least(9, CAST(len(string_split(text, ' ')) AS BIGINT) // 20) AS bin,
             |    (len(string_split(text, ' ')) BETWEEN 10 AND 100000
             |      AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
             |        / length(text) >= 0.6
             |      AND len(list_filter(string_split(text, ' '),
             |        x -> x IN ('the','a','of','and','to','in','is','it'))) >= 2) AS kept
             |  FROM documents WHERE doc_id < 2000),
             |bins AS (SELECT unnest(range(10)) AS bin),
             |tot AS (SELECT count(*) AS tr,
             |    sum(CAST(kept AS BIGINT)) AS tc FROM base),
             |j AS (SELECT b.bin, coalesce(r.nr, 0) AS nr, coalesce(c.nc, 0) AS nc
             |  FROM bins b
             |  LEFT JOIN (SELECT bin, count(*) AS nr FROM base GROUP BY 1) r
             |    USING (bin)
             |  LEFT JOIN (SELECT bin, count(*) AS nc FROM base WHERE kept
             |             GROUP BY 1) c USING (bin)),
             |terms AS (SELECT nr, nc,
             |    (nr + 1) * 1.0 / (tot.tr + 10) AS p,
             |    (nc + 1) * 1.0 / (tot.tc + 10) AS q
             |  FROM j CROSS JOIN tot)
             |SELECT 'n_tokens' AS feature, CAST(sum(nr) AS BIGINT) AS n_ref,
             |  CAST(sum(nc) AS BIGINT) AS n_cur,
             |  CAST(sum(CAST(floor((p - q) *
             |      (floor(ln(p / q) * 1e6 + 0.5) / 1e6) * 1e9 + 0.5)
             |    AS BIGINT)) AS BIGINT) AS psi_x1e9
             |FROM terms""".stripMargin)),

    Q(
      "st39_stream_fertility_drift",
      (s, dir) => {
        // STREAMING tokenizer-fertility drift audit — t32's
        // per-language fertility as an INGEST gauge against a frozen
        // baseline (the production deployment: a committed vocabulary
        // ships with its per-language fertility table; the live feed
        // maintains running (words, tokens) counters per language and
        // the dashboard reads the drift — rising fertility on a
        // language is the early signal the corpus mix moved away from
        // what the vocab was allocated for). Reference = the t20
        // fixed-table fertility on the FROZEN doc_id < 250 slice
        // (model-sized, collected once); the feed is the DISJOINT
        // 250 ≤ doc_id < 500 slice (absolute caps at any SF — st18's
        // discipline), tokenized at ingest by the stateless narrow
        // tokenCountsTagged map and folded into complete-mode
        // per-language counters — state = one row per language
        // however long the stream runs. Integer counter merge makes
        // the drained snapshot micro-batching-invariant (st20's
        // argument); fertilities quantize to basis points by floor
        // division, so the drift column is exact integer end to end.
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, String, String)]
        import s.implicits._
        val d = Tables(s, dir).documents
        val ref = graft.ops.Bpe.tokenCountsTagged(
            d.filter(col("doc_id") < 250), "doc_id", "lang", "text",
            BpeFixedMerges)
          .where(col("n_words") > 0)
          .groupBy("lang")
          .agg(sum("n_words").as("ref_words"), sum("n_tokens").as("ref_tokens"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val rows = d.filter(col("doc_id") >= 250 && col("doc_id") < 500)
          .orderBy("doc_id").select(col("doc_id"), col("lang"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String, String)]
        val counts = graft.ops.Bpe.tokenCountsTagged(
            stream.toDS().toDF("doc_id", "lang", "text"),
            "doc_id", "lang", "text", BpeFixedMerges)
          .where(col("n_words") > 0)
          .groupBy("lang")
          .agg(sum("n_words").as("cur_words"), sum("n_tokens").as("cur_tokens"))
        val chunk = math.max(1, (rows.length + 1) / 2)
        val cur = StreamReplay(s, counts, "st39_fert", "complete")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
        val refDf = ref.toSeq.toDF("lang", "ref_words", "ref_tokens")
        refDf.join(cur, Seq("lang"), "full_outer")
          .select(col("lang"),
            coalesce(col("ref_words"), lit(0L)).as("ref_words"),
            coalesce(col("ref_tokens"), lit(0L)).as("ref_tokens"),
            coalesce(col("cur_words"), lit(0L)).as("cur_words"),
            coalesce(col("cur_tokens"), lit(0L)).as("cur_tokens"))
          .withColumn("fert_ref_bp", expr(
            "CASE WHEN ref_words = 0 THEN 0L ELSE ref_tokens * 10000 div ref_words END"))
          .withColumn("fert_cur_bp", expr(
            "CASE WHEN cur_words = 0 THEN 0L ELSE cur_tokens * 10000 div cur_words END"))
          .withColumn("drift_bp", col("fert_cur_bp") - col("fert_ref_bp"))
          .orderBy("lang")
      },
      Some(st39OracleSql)),

    Q(
      "st25_stream_lm_scoring",
      (s, dir) => {
        // STREAMING LM-perplexity scoring under the DuckDB oracle —
        // t29's add-one bigram LM frozen and applied at ingest
        // (CorpusStream.lmScoringStream — the CCNet deployment:
        // train-offline on the trusted slice, score-at-ingest). The
        // fit runs on the STATIC capped slice exactly as t29 runs it,
        // freezes to driver arrays (the shipped-artifact form,
        // TextAnalysis.bigramLmFreeze), and the stream scores each doc
        // in ONE native token scan (graftshim.BigramLmScore: per-
        // bigram q precomputed at plan build, hot loop = one hash
        // probe per token — never an interpreted HOF fold, the st21
        // lesson) as a stateless append whose drained sink
        // hash-matches the capped t29 oracle. The WHOLE universe caps
        // at doc_id < 2000 ABSOLUTE (st18/st21's discipline — a
        // hash-no-op at the driver SF): a deployed LM is a FIXED
        // artifact and the MemoryStream harness must not scale with
        // SF. collect() is the freeze + the feeding harness.
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
        val lm = graft.ops.TextAnalysis.bigramLmFreeze(
          graft.ops.TextAnalysis.bigramLmFit(d.filter(gate), "text", minCount = 5))
        val rows = d.orderBy("doc_id").select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            graft.streaming.CorpusStream.lmScoringStream(
              stream.toDS().toDF("doc_id", "text"), "doc_id", "text", lm),
            "st25_scores")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("doc_id")
      },
      Some(CorpusOps.lmPerplexityOracleSql("doc_id < 2000"))))

  /** t25's full unrolled oracle (uncapped). */
  /** t25's scored frame — (doc_id, label, score 6dp) from the
    * heuristic-gate labels, L2-normalized hashing-TF features and
    * the 4-round quantized-GD fit; one sharedScan feeds the fit's
    * gradient passes and the scoring projection. Shared by t25 and
    * t43 (the calibration audit must bin EXACTLY the scores t25
    * publishes). */
  private def t25ScoredFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftshim.InternalFrame
    val d = Tables(s, dir).documents
    val nTok = size(split(col("text"), " "))
    val alphaRatio =
      (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z ]", "")))
        .cast("double") / length(col("text"))
    val stopHits = size(filter(split(col("text"), " "),
      t => t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
    val y = (nTok.between(10, 100000) && alphaRatio >= 0.6 &&
      stopHits >= lit(2)).cast("int").cast("double")
    val feats = InternalFrame.sharedScan(
      graft.ops.TextAnalysis.hashingTf(d, "doc_id", "text", dim = 64)
        .join(d.select(col("doc_id"), y.as("y")), "doc_id")
        .withColumn("nrm",
          sqrt(graft.ops.Similarity.dot(col("tf_vec"), col("tf_vec"))))
        .filter(col("nrm") > 0)
        .select(col("doc_id"), col("y"),
          transform(col("tf_vec"), e => e / col("nrm")).as("v")))
    val traj = graft.ops.TextAnalysis.logisticFitGd(
      feats, "v", "y", dim = 64, steps = 4, lr = 16.0)
    val w = traj.last.toSeq
    feats.select(col("doc_id"), col("y").as("label"),
      fround(lit(1.0) / (lit(1.0) +
          exp(-graft.ops.Similarity.dot(col("v"), typedlit(w)))), 6)
        .as("score"))
  }

  private def t25OracleSql: String = t25OracleSqlWhere("TRUE")

  /** t25's fit/score CTE chain up to `mfin` (per-doc margin under the
    * step-4 weights) — shared by t25, st21's capped twin, and t43's
    * calibration audit (which must bin EXACTLY these scores). */
  private def t25FitCtes(docFilter: String): String =
    s"""${SimilarityQueries.hashingTfSql(docFilter)},
       |lab AS (SELECT doc_id, CAST(CAST(
       |    len(string_split(text, ' ')) BETWEEN 10 AND 100000
       |    AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
       |      / length(text) >= 0.6
       |    AND len(list_filter(string_split(text, ' '),
       |      x -> x IN ('the','a','of','and','to','in','is','it')))
       |      >= 2 AS INT) AS DOUBLE) AS y
       |  FROM documents WHERE $docFilter),
       |f AS MATERIALIZED (SELECT vecs.doc_id,
       |    list_transform(vecs.v, a -> a / sqrt(list_sum(
       |      list_transform(vecs.v, b -> b * b)))) AS v, lab.y
       |  FROM vecs JOIN lab USING (doc_id)
       |  WHERE list_sum(list_transform(vecs.v, b -> b * b)) > 0),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
       |u AS MATERIALIZED (SELECT doc_id, y, unnest(v) AS x,
       |    generate_subscripts(v, 1) AS j FROM f),
       |${(1 to 4).map(lrCte).mkString(",\n")},
       |mfin AS (SELECT u.doc_id, sum(w4.w * u.x) AS m
       |    FROM u JOIN w4 USING (j) GROUP BY u.doc_id)""".stripMargin

  /** t25's unrolled oracle over a filtered document slice — st21 passes
    * its absolute feed cap (the stream is bit-parity with the batch
    * scorer over the same slice, st08's discipline). */
  private def t25OracleSqlWhere(docFilter: String): String =
    s"""WITH ${t25FitCtes(docFilter)}
       |SELECT f.doc_id, f.y AS label,
       |  floor((1.0 / (1.0 + exp(-mfin.m))) * 1e6 + 0.5) / 1e6 AS score
       |FROM f JOIN mfin USING (doc_id) ORDER BY doc_id""".stripMargin

  /** t43/st41's shared census grain over a (label, score) scored
    * frame: integer decile bins of the MICRO score with the exact
    * (n, n_pos, Σ score, Σ (score − y)²) counters — everything the
    * assembly below (or a complete-mode streaming aggregate) needs,
    * all associative integer merges. */
  private def calibrationBins(scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    scored
      .select(col("label").cast("long").as("y"),
        floor(col("score") * 1e6 + 0.5).cast("long").as("sm"))
      .withColumn("bin", expr("least(9, sm div 100000)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum("y").cast("long").as("n_pos"),
        sum("sm").cast("long").as("sum_sm"),
        sum(expr("(sm - y * 1000000) * (sm - y * 1000000)"))
          .cast("long").as("sq"))

  /** The reliability/Brier/ECE assembly over [[calibrationBins]]'
    * counters — static math, so st41 can run it on the DRAINED
    * snapshot of the same counters it maintained in complete mode. */
  private def calibrationAssembly(binsRaw: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bins = binsRaw
      .select(col("bin"), col("n"), col("n_pos"),
        expr("sum_sm div n").as("mean_pred_micro"),
        expr("n_pos * 1000000 div n").as("emp_rate_micro"),
        col("sq"))
      .withColumn("gap_micro",
        abs(col("mean_pred_micro") - col("emp_rate_micro")))
      .withColumn("brier_micro", expr("sq div (n * 1000000)"))
    val g = bins.agg(
      expr("sum(sq) div (sum(n) * 1000000)").as("brier_total_micro"),
      expr("sum(n * gap_micro) div sum(n)").as("ece_micro"))
    bins.crossJoin(g)
      .select(col("bin"), col("n"), col("n_pos"),
        col("mean_pred_micro"), col("emp_rate_micro"),
        col("gap_micro"), col("brier_micro"),
        col("brier_total_micro"), col("ece_micro"))
      .orderBy("bin")
  }

  /** t43/st41's oracle: t25's fit chain over `docFilter`'s universe,
    * the micro scores re-derived from the same margins, integer
    * decile binning and the exact-integer reliability/Brier/ECE
    * census. */
  private def t43OracleSqlWhere(docFilter: String): String =
    s"""WITH ${t25FitCtes(docFilter)},
       |sc AS (SELECT CAST(f.y AS BIGINT) AS y,
       |    CAST(floor((1.0 / (1.0 + exp(-mfin.m))) * 1e6 + 0.5) AS BIGINT) AS sm
       |  FROM f JOIN mfin USING (doc_id)),
       |b AS (SELECT CAST(least(9, sm // 100000) AS BIGINT) AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    CAST(sum(sm) AS BIGINT) AS sum_sm,
       |    CAST(sum((sm - y * 1000000) * (sm - y * 1000000)) AS BIGINT) AS sq
       |  FROM sc GROUP BY 1),
       |bg AS (SELECT bin, n, n_pos,
       |    CAST(sum_sm // n AS BIGINT) AS mean_pred_micro,
       |    CAST(n_pos * 1000000 // n AS BIGINT) AS emp_rate_micro,
       |    CAST(abs(sum_sm // n - n_pos * 1000000 // n) AS BIGINT) AS gap_micro,
       |    CAST(sq // (n * 1000000) AS BIGINT) AS brier_micro, sq
       |  FROM b),
       |tot AS (SELECT
       |    CAST(sum(sq) // (sum(n) * 1000000) AS BIGINT) AS brier_total_micro,
       |    CAST(sum(n * gap_micro) // sum(n) AS BIGINT) AS ece_micro
       |  FROM bg)
       |SELECT bin, n, n_pos, mean_pred_micro, emp_rate_micro, gap_micro,
       |  brier_micro, brier_total_micro, ece_micro
       |FROM bg CROSS JOIN tot ORDER BY bin""".stripMargin

  /** t27's oracle: the t25 unroll replayed once per fold — fit CTEs
    * restricted to fold ≠ f, scoring restricted to fold = f, the three
    * per-fold count rows unioned. */
  private def t27OracleSql: String = {
    val foldExpr =
      s"CAST(${OracleSql.md5Fold52("'t27:' || CAST(vecs.doc_id AS VARCHAR)")} % 3 AS INT)"
    def foldCtes(f: Int): String = {
      val lr = "16.0"
      val rounds = (1 to 4).map { i =>
        if (i == 1)
          s"""g1f$f AS (SELECT j, floor(sum(x * (0.5 - y)) / n * 1e6 + 0.5) / 1e6 AS g
             |    FROM uf$f CROSS JOIN nnf$f GROUP BY j, n),
             |w1f$f AS (SELECT j, floor((0.0 - $lr * g) * 1e6 + 0.5) / 1e6 AS w
             |    FROM g1f$f)""".stripMargin
        else {
          val p = i - 1
          s"""m${p}f$f AS (SELECT u.doc_id, sum(w.w * u.x) AS m
             |    FROM uf$f u JOIN w${p}f$f w USING (j) GROUP BY u.doc_id),
             |g${i}f$f AS (SELECT u.j, floor(sum(u.x * (1.0 / (1.0 + exp(-m.m))
             |      - u.y)) / n * 1e6 + 0.5) / 1e6 AS g
             |  FROM uf$f u JOIN m${p}f$f m USING (doc_id) CROSS JOIN nnf$f
             |  GROUP BY u.j, n),
             |w${i}f$f AS (SELECT j, floor((w.w - $lr * g.g) * 1e6 + 0.5) / 1e6 AS w
             |    FROM w${p}f$f w JOIN g${i}f$f g USING (j))""".stripMargin
        }
      }.mkString(",\n")
      s"""uf$f AS (SELECT * FROM u WHERE fold <> $f),
         |nnf$f AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f WHERE fold <> $f),
         |$rounds,
         |mtf$f AS (SELECT u.doc_id, sum(w.w * u.x) AS m
         |    FROM u JOIN w4f$f w USING (j) WHERE u.fold = $f GROUP BY u.doc_id),
         |sc$f AS (SELECT floor((1.0 / (1.0 + exp(-m.m))) * 1e6 + 0.5) / 1e6 AS score,
         |    CAST(sum(y) AS BIGINT) AS p,
         |    CAST(sum(1.0 - y) AS BIGINT) AS g
         |  FROM f JOIN mtf$f m USING (doc_id) WHERE f.fold = $f GROUP BY 1),
         |cu$f AS (SELECT p, g, coalesce(sum(g) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
         |  FROM sc$f),
         |r$f AS (SELECT $f AS fold, CAST(sum(p) + sum(g) AS BIGINT) AS n_test,
         |    CAST(sum(p) AS BIGINT) AS n_pos,
         |    CASE WHEN sum(p) * sum(g) = 0 THEN NULL
         |         ELSE sum(p * (2 * cn + g)) * 1000000 // (2 * sum(p) * sum(g))
         |    END AS auc_ppm
         |  FROM cu$f)""".stripMargin
    }
    s"""WITH ${SimilarityQueries.hashingTfSql("TRUE")},
       |lab AS (SELECT doc_id, CAST(CAST(
       |    len(string_split(text, ' ')) BETWEEN 10 AND 100000
       |    AND (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) * 1.0
       |      / length(text) >= 0.6
       |    AND len(list_filter(string_split(text, ' '),
       |      x -> x IN ('the','a','of','and','to','in','is','it')))
       |      >= 2 AS INT) AS DOUBLE) AS y
       |  FROM documents),
       |f AS MATERIALIZED (SELECT vecs.doc_id, $foldExpr AS fold,
       |    list_transform(vecs.v, a -> a / sqrt(list_sum(
       |      list_transform(vecs.v, b -> b * b)))) AS v, lab.y
       |  FROM vecs JOIN lab USING (doc_id)
       |  WHERE list_sum(list_transform(vecs.v, b -> b * b)) > 0),
       |u AS MATERIALIZED (SELECT doc_id, fold, y, unnest(v) AS x,
       |    generate_subscripts(v, 1) AS j FROM f),
       |${(0 until 3).map(foldCtes).mkString(",\n")}
       |SELECT fold, n_test, n_pos, CAST(auc_ppm AS BIGINT) AS auc_ppm
       |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1
       |      UNION ALL SELECT * FROM r2)
       |ORDER BY fold""".stripMargin
  }

  /** One unrolled logistic-GD round for the t25 oracle: margins under
    * w{i-1}, quantized mean gradient g{i}, snapped weights w{i}.
    * Round 1 folds σ(0) = 0.5 directly — w0 = 0, so the first gradient
    * is pure rational arithmetic (gp11's discipline at each seam). */
  private def lrCte(i: Int): String = {
    val lr = "16.0"
    if (i == 1)
      s"""g1 AS (SELECT j, floor(sum(x * (0.5 - y)) / n * 1e6 + 0.5) / 1e6 AS g
         |    FROM u CROSS JOIN nn GROUP BY j, n),
         |w1 AS (SELECT j, floor((0.0 - $lr * g) * 1e6 + 0.5) / 1e6 AS w
         |    FROM g1)""".stripMargin
    else {
      val p = i - 1
      s"""m$p AS (SELECT u.doc_id, sum(w$p.w * u.x) AS m
         |    FROM u JOIN w$p USING (j) GROUP BY u.doc_id),
         |g$i AS (SELECT u.j, floor(sum(u.x * (1.0 / (1.0 + exp(-m$p.m))
         |      - u.y)) / n * 1e6 + 0.5) / 1e6 AS g
         |  FROM u JOIN m$p USING (doc_id) CROSS JOIN nn GROUP BY u.j, n),
         |w$i AS (SELECT j, floor((w$p.w - $lr * g$i.g) * 1e6 + 0.5) / 1e6 AS w
         |    FROM w$p JOIN g$i USING (j))""".stripMargin
    }
  }

  /** Merge table for t20/t32: `Bpe.trainOnSample(documents@sf0.01,
    * first 100 docs by id, 30 merges)` — pinned by BpeSpec so drift
    * between this literal and the trainer fails the build, not the
    * oracle. 30 is NOT arbitrary smallness: the synthetic document
    * corpus holds only 31 distinct words TOTAL, so any table past ~89
    * merges collapses every document word to a single token (measured
    * r14 — the trainer runs dry at 89 and the t20 hash degenerates to
    * n_tokens = n_words, unable to catch partial-merge bugs). The
    * production-shaped ≥1k merge count is gated by [[BpeMerges1k]] /
    * t35 on the one testdata vocabulary that supports it. */
  lazy val BpeFixedMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "o" -> "w", "s" -> "t", "i" -> "n", "o" -> "r",
    "l" -> "u", "m" -> "er", "a" -> "t", "a" -> "r", "p" -> "ar",
    "f" -> "i", "fi" -> "l", "fil" -> "t", "filt" -> "er", "a" -> "n",
    "c" -> "an", "s" -> "can", "u" -> "p", "a" -> "s", "as" -> "h",
    "c" -> "o", "co" -> "lu", "colu" -> "m", "colum" -> "n",
    "h" -> "ash", "a" -> "l", "al" -> "l", "l" -> "ow", "m" -> "all",
    "s" -> "low")

  /** The bounded deterministic training sample behind [[BpeMerges1k]]:
    * the first 1000 customer names — the only testdata vocabulary
    * wide enough for a production-shaped merge count (1500 distinct
    * 17-char digit-bearing words at sf0.01 vs the documents corpus's
    * 31 words total). Total-order bounded by key, so the sample — and
    * therefore the pinned table — is reproducible at any SF ≥ 0.01. */
  def bpe1kTrainingSource(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir).customer.filter(col("c_custkey") < 1000)
      .select(col("c_name").as("text"))

  /** The PRODUCTION-SHAPED merge table for t35: `Bpe.train(wordFreq(
    * bpe1kTrainingSource(sf0.01)), 1024 merges)` — r13 verdict: a
    * 30-merge table demonstrates nothing about apply cost at
    * KenLM/HF-tokenizer scale (30k–100k merges); 1024 is the largest
    * count the testdata supports with a non-degenerate apply, and the
    * recursive-CTE oracle replays all 1024 ranks (measured 4.7 s over
    * the sf0.01 name vocabulary). Pinned by BpeSpec against the
    * trainer. Stored one `x y` pair per line (post-normalization
    * symbols never contain spaces). */
  lazy val BpeMerges1k: Seq[(String, String)] =
    BpeMerges1kTable.raw.linesIterator.filter(_.nonEmpty).map { l =>
      val sp = l.indexOf(' ')
      (l.substring(0, sp), l.substring(sp + 1))
    }.toSeq

  /** The BPE-apply replay shared by t20's per-doc oracle and t32's
    * fertility rollup: everything through the per-doc (n_words,
    * n_tokens) census, so both oracles tokenize under the IDENTICAL
    * recursive-CTE merge fold. */
  private def t20OracleCore: String = {
    val vals = BpeFixedMerges.zipWithIndex
      .map { case ((x, y), i) => s"(${i + 1},'$x','$y')" }.mkString(",")
    s"""WITH RECURSIVE merges(rank, x, y) AS (SELECT * FROM (VALUES $vals) t(r, x, y)),
       |words AS (
       |  SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest(string_split(trim(regexp_replace(regexp_replace(
       |          lower(text), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')), ' ')) AS w
       |        FROM documents)
       |  WHERE w <> ''),
       |vocab AS (SELECT DISTINCT w FROM words),
       |step(w, r, s) AS (
       |  SELECT w, 0, array_to_string(regexp_split_to_array(w, ''), ' ') FROM vocab
       |  UNION ALL
       |  SELECT st.w, st.r + 1,
       |    CASE WHEN st.s NOT LIKE '%' || m.x || ' ' || m.y || '%' THEN st.s ELSE
       |    list_reduce(string_split(st.s, ' '),
       |      (acc, t) -> CASE WHEN (acc = m.x OR ends_with(acc, ' ' || m.x)) AND t = m.y
       |                  THEN substr(acc, 1, len(acc) - len(m.x)) || m.x || m.y
       |                  ELSE acc || ' ' || t END) END
       |  FROM step st JOIN merges m ON m.rank = st.r + 1),
       |toklen AS (SELECT w, len(string_split(s, ' ')) AS ntok
       |  FROM step WHERE r = ${BpeFixedMerges.length}),
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens
       |FROM words JOIN toklen USING (w)
       |GROUP BY doc_id)""".stripMargin
  }

  private def t20OracleSql: String =
    s"""$t20OracleCore
       |SELECT doc_id, n_words, n_tokens
       |FROM perdoc ORDER BY doc_id""".stripMargin

  /** t35's oracle: the t20 recursive-CTE fold at 1024 ranks over the
    * customer-name vocabulary — every merge level replayed exactly as
    * t20's, just 34× deeper (measured 4.7 s in DuckDB at sf0.01). */
  private def t35OracleSql: String = {
    val vals = BpeMerges1k.zipWithIndex
      .map { case ((x, y), i) => s"(${i + 1},'$x','$y')" }.mkString(",")
    s"""WITH RECURSIVE merges(rank, x, y) AS (SELECT * FROM (VALUES $vals) t(r, x, y)),
       |words AS (
       |  SELECT c_custkey, w
       |  FROM (SELECT c_custkey, unnest(string_split(trim(regexp_replace(regexp_replace(
       |          lower(c_name), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')), ' ')) AS w
       |        FROM customer)
       |  WHERE w <> ''),
       |vocab AS (SELECT DISTINCT w FROM words),
       |step(w, r, s) AS (
       |  SELECT w, 0, array_to_string(regexp_split_to_array(w, ''), ' ') FROM vocab
       |  UNION ALL
       |  SELECT st.w, st.r + 1,
       |    CASE WHEN st.s NOT LIKE '%' || m.x || ' ' || m.y || '%' THEN st.s ELSE
       |    list_reduce(string_split(st.s, ' '),
       |      (acc, t) -> CASE WHEN (acc = m.x OR ends_with(acc, ' ' || m.x)) AND t = m.y
       |                  THEN substr(acc, 1, len(acc) - len(m.x)) || m.x || m.y
       |                  ELSE acc || ' ' || t END) END
       |  FROM step st JOIN merges m ON m.rank = st.r + 1),
       |toklen AS (SELECT w, len(string_split(s, ' ')) AS ntok
       |  FROM step WHERE r = ${BpeMerges1k.length}),
       |perkey AS (SELECT c_custkey, count(*) AS n_words,
       |    CAST(sum(ntok) AS BIGINT) AS n_tokens
       |  FROM words JOIN toklen USING (w) GROUP BY 1)
       |SELECT c_nationkey AS nationkey, count(*) AS n_names,
       |  CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       |  CAST(sum(n_tokens) * 10000 // sum(n_words) AS BIGINT) AS fertility_bp
       |FROM perkey JOIN customer USING (c_custkey)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** st39's oracle: the t20 per-doc census (the SAME recursive-CTE
    * fold), rolled to per-language (words, tokens) over the frozen
    * reference slice and the disjoint feed slice, full-outer joined
    * so a language missing from either side still reports, fertility
    * in exact basis points and the drift their difference. */
  private def st39OracleSql: String =
    s"""$t20OracleCore,
       |ref AS (SELECT lang, CAST(sum(n_words) AS BIGINT) AS ref_words,
       |    CAST(sum(n_tokens) AS BIGINT) AS ref_tokens
       |  FROM perdoc JOIN documents USING (doc_id)
       |  WHERE doc_id < 250 GROUP BY 1),
       |cur AS (SELECT lang, CAST(sum(n_words) AS BIGINT) AS cur_words,
       |    CAST(sum(n_tokens) AS BIGINT) AS cur_tokens
       |  FROM perdoc JOIN documents USING (doc_id)
       |  WHERE doc_id >= 250 AND doc_id < 500 GROUP BY 1),
       |j AS (SELECT coalesce(r.lang, c.lang) AS lang,
       |    coalesce(ref_words, 0) AS ref_words,
       |    coalesce(ref_tokens, 0) AS ref_tokens,
       |    coalesce(cur_words, 0) AS cur_words,
       |    coalesce(cur_tokens, 0) AS cur_tokens
       |  FROM ref r FULL JOIN cur c ON r.lang = c.lang),
       |f AS (SELECT *,
       |    CASE WHEN ref_words = 0 THEN 0
       |      ELSE ref_tokens * 10000 // ref_words END AS fert_ref_bp,
       |    CASE WHEN cur_words = 0 THEN 0
       |      ELSE cur_tokens * 10000 // cur_words END AS fert_cur_bp
       |  FROM j)
       |SELECT lang, ref_words, ref_tokens, cur_words, cur_tokens,
       |  CAST(fert_ref_bp AS BIGINT) AS fert_ref_bp,
       |  CAST(fert_cur_bp AS BIGINT) AS fert_cur_bp,
       |  CAST(fert_cur_bp - fert_ref_bp AS BIGINT) AS drift_bp
       |FROM f ORDER BY lang""".stripMargin

  private[queries] def t32OracleSql: String =
    s"""$t20OracleCore
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_tokens) * 10000 // sum(n_words) AS BIGINT) AS fertility_bp
       |FROM perdoc JOIN documents USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin
}
