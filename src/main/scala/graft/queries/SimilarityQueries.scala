package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.Similarity._
import graft.tables.Tables

/** Similarity-search pack over the `embeddings` table. */
object SimilarityQueries {

  /** DuckDB twin of `Similarity.hyperplaneKey` — see
    * [[OracleSql.hyperplaneBucket]]. */
  private def lshBucketSql(vecExpr: String, dim: Int, planes: Int, seed: Long): String =
    OracleSql.hyperplaneBucket(vecExpr, dim, planes, seed)

  /** One UNION ALL branch per LSH table, bucketing `v` with that
    * table's seed (mirrors `Similarity.knnLsh.keyed`). */
  private def lshKeyedSql(filter: String, idAlias: String, vecAlias: String,
      dim: Int, planes: Int, tables: Int): String =
    (0 until tables).map { t =>
      s"SELECT vec_id AS $idAlias, v AS $vecAlias, $t AS tbl, " +
        s"${lshBucketSql("v", dim, planes, seed = 100 + t)} AS bucket FROM e WHERE $filter"
    }.mkString("\n  UNION ALL\n  ")

  /** DuckDB squared-euclidean over 64-d DOUBLE[] lists, ascending-i
    * summation — the same order every native distance expression and
    * every existing kmeans oracle folds. */
  private def sq64(a: String, b: String): String =
    s"list_sum(list_transform(range(64), i -> ($a[i+1]-$b[i+1])*($a[i+1]-$b[i+1])))"

  /** a05's full closed-form replay (assignment → probing → ranking)
    * — shared verbatim by st17, whose streamed shard-local candidates
    * merge to the identical result (top-k of a union = top-k of the
    * union of per-shard top-ks). */
  private val a05IvfFlatSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cents AS (SELECT vec_id - 10 AS cell, v AS cv FROM e
      |          WHERE vec_id >= 10 AND vec_id < 26),
      |assign AS (SELECT neighbor_id, v, cell FROM (
      |    SELECT c.vec_id AS neighbor_id, c.v, t.cell,
      |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(c.v, t.cv),
      |          p -> (p[1] - p[2]) * (p[1] - p[2]))), t.cell) AS rn
      |    FROM (SELECT * FROM e WHERE vec_id >= 10) c, cents t)
      |  WHERE rn = 1),
      |probes AS (SELECT query_id, qv, cell FROM (
      |    SELECT q.vec_id AS query_id, q.v AS qv, t.cell,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(q.v, t.cv),
      |          p -> (p[1] - p[2]) * (p[1] - p[2]))), t.cell) AS rn
      |    FROM (SELECT * FROM e WHERE vec_id < 10) q, cents t)
      |  WHERE rn <= 6),
      |hits AS (SELECT p.query_id, a.neighbor_id,
      |    list_sum(list_transform(list_zip(p.qv, a.v), x -> x[1] * x[2]))
      |      / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
      |         * sqrt(list_sum(list_transform(a.v, x -> x * x)))) AS cos
      |  FROM probes p JOIN assign a ON p.cell = a.cell)
      |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
      |  floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
      |FROM (SELECT query_id, neighbor_id, cos,
      |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      |      FROM hits)
      |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin


  /** The hashing-TF featurizer replay (tokenize → bucket → sign →
    * assemble), shared by a18 and a19 so the two oracles cannot drift
    * (the a05IvfFlatSql discipline). `docFilter` is the gate-corpus
    * predicate — TRUE for a18, a19's sf0.1 base-range cap. Produces
    * CTEs toks/tf/cells/grid/vecs with vecs(doc_id, v DOUBLE[64]). */
  private[queries] def hashingTfSql(docFilter: String): String =
    s"""toks AS (SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS tok FROM documents
      |    WHERE $docFilter),
      |tf AS (SELECT doc_id,
      |    CAST(${OracleSql.md5Fold52("'tfb:' || tok")} % 64 AS INT) AS j,
      |    CASE WHEN ${OracleSql.md5Fold52("'tfs:' || tok")} % 2 = 0
      |         THEN 1 ELSE -1 END AS s
      |  FROM toks WHERE length(tok) > 0),
      |cells AS (SELECT doc_id, j, sum(s) AS x
      |          FROM tf GROUP BY doc_id, j),
      |grid AS (SELECT d.doc_id, r.i
      |  FROM (SELECT DISTINCT doc_id FROM cells) d
      |  CROSS JOIN (SELECT unnest(range(64)) AS i) r),
      |vecs AS (SELECT g.doc_id,
      |    list(CAST(coalesce(c.x, 0) AS DOUBLE) ORDER BY g.i) AS v
      |  FROM grid g LEFT JOIN cells c
      |    ON c.doc_id = g.doc_id AND c.j = g.i
      |  GROUP BY g.doc_id)""".stripMargin

  val queries: Seq[Q] = Seq(
    Q(
      "a01_knn_bruteforce",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        knnBruteForce(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", k = 5)
          .select("query_id", "rank", "neighbor_id")
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
             |           FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
             |      FROM embeddings WHERE vec_id >= 10),
             |sims AS (SELECT qid, nid,
             |    list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos
             |  FROM q, c)
             |SELECT qid AS query_id, CAST(rn AS INT) AS rank, nid AS neighbor_id
             |FROM (SELECT qid, nid,
             |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
             |      FROM sims)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a03_cosine_sql",
      (s, dir) => {
        // Exercises the graft_cosine native expression through plain SQL
        // (registered at runtime — works on any session).
        graft.spark.GraftExtensions.ensureRegistered(s)
        Tables(s, dir).embeddings.filter(col("vec_id") < 40)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .createOrReplaceTempView("graft_emb_small")
        s.sql("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                |  floor(graft_cosine(a.v, b.v) * 1e6 + 0.5) / 1e6 AS cos
                |FROM graft_emb_small a JOIN graft_emb_small b ON a.vec_id < b.vec_id
                |ORDER BY id_a, id_b""".stripMargin)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id < 40)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  floor(list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))
             |    / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             |       * sqrt(list_sum(list_transform(b.v, x -> x * x)))) * 1e6 + 0.5) / 1e6 AS cos
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "a02_knn_lsh",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        knnLsh(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", k = 5, dim = 64)
          .select(col("query_id"), col("rank"), col("neighbor_id"), fround(col("cos"), 4).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cb AS (
             |  ${lshKeyedSql("vec_id >= 10", "neighbor_id", "cv", dim = 64, planes = 12, tables = 4)}),
             |qb AS (
             |  ${lshKeyedSql("vec_id < 10", "query_id", "qv", dim = 64, planes = 12, tables = 4)}),
             |hits AS (SELECT qb.query_id, cb.neighbor_id,
             |    list_sum(list_transform(list_zip(qb.qv, cb.cv), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(qb.qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(cb.cv, x -> x * x)))) AS cos
             |  FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket),
             |best AS (SELECT query_id, neighbor_id, max(cos) AS cos FROM hits GROUP BY 1, 2),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
             |  FROM best)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
             |  floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
             |FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a05_knn_ivf_flat",
      (s, dir) => {
        // IVF with a DETERMINISTIC quantizer: cells = 16 seed vectors
        // taken straight from the corpus (vec_id 10..25), no Lloyd —
        // crude balance, but the probe/rerank machinery is identical to
        // a04 and the whole operator becomes closed-form, so DuckDB
        // recomputes assignment, probing, and ranking exactly.
        val e = Tables(s, dir).embeddings
        val centers = e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
          .orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        knnIvfWithCenters(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", k = 5, centers, nprobe = 6)
          .select(col("query_id"), col("rank"), col("neighbor_id"), fround(col("cos"), 4).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some(a05IvfFlatSql)),

    Q(
      "a06_centroid_classify",
      (s, dir) => {
        // Nearest-centroid (Rocchio) classification — the embedding-space
        // assignment primitive (one k-means E-step): per-label centroids
        // from ONE posexplode + (label, dim) aggregate, re-assembled into
        // model-sized arrays and broadcast; assignment is a narrow pass of
        // the corpus against the broadcast centroid table through the
        // native cosine + TopKPerGroup(k=1). Cosines are quantized to
        // integer 1e-4 units before the argmax so DuckDB ranks identical
        // keys (centroid sums differ by summation-order ulps).
        val e = Tables(s, dir).embeddings
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        val cents = e
          .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("clabel", "pos").agg(avg("x").as("cx"))
          .groupBy("clabel")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
            p => p.getField("cx")).as("cv"))
        val scored = e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("label"), col("clabel"),
            floor(graft.ops.Similarity.cosine(col("v"), col("cv")) * 1e4 + 0.5)
              .cast("long").as("cos_u"))
        graft.plans.TopK.perGroup(scored, Seq(col("vec_id")), col("cos_u"), col("clabel"), k = 1)
          .select(col("vec_id"), col("label"), col("clabel").as("pred"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |expl AS (SELECT label AS clabel, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
             |cvec AS (SELECT clabel, list(cx ORDER BY pos) AS cv
             |  FROM (SELECT clabel, pos, avg(x) AS cx FROM expl GROUP BY 1, 2)
             |  GROUP BY clabel),
             |scored AS (SELECT e.vec_id, e.label, c.clabel,
             |    CAST(floor(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1] * p[2]))
             |      / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
             |         * sqrt(list_sum(list_transform(c.cv, x -> x * x)))) * 1e4 + 0.5) AS BIGINT) AS cos_u
             |  FROM e CROSS JOIN cvec c)
             |SELECT vec_id, label, clabel AS pred
             |FROM (SELECT vec_id, label, clabel,
             |        row_number() OVER (PARTITION BY vec_id ORDER BY cos_u DESC, clabel) AS rn
             |      FROM scored)
             |WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    Q(
      "a07_pca_project",
      (s, dir) => {
        // Whitening-style reduction of the embedding table: fit 4
        // components (one treeAggregate + driver eigen), project every
        // vector through native dot expressions. Rows-only by design:
        // eigenvectors are not SQL-expressible; PcaSpec pins the math
        // (orthonormality, driver-reference agreement, partition
        // invariance).
        val e = Tables(s, dir).embeddings
        val model = graft.ops.PCA.fit(e, "embedding", k = 4)
        graft.ops.PCA.transform(e, "embedding", model, "p")
          .select(col("vec_id"), col("label"),
            fround(element_at(col("p"), 1), 4).as("p1"),
            fround(element_at(col("p"), 2), 4).as("p2"),
            fround(element_at(col("p"), 3), 4).as("p3"),
            fround(element_at(col("p"), 4), 4).as("p4"))
          .orderBy("vec_id")
      }),

    Q(
      "a07b_pca_fixed_project",
      (s, dir) => {
        // a07's PROJECTION path, oracle-checked with a FIXED model (the
        // gp06 fixed-model pattern): components = the first four
        // Walsh-Hadamard rows of order 64 scaled to unit norm — every
        // entry exactly ±0.125 = ±2⁻³, so each product is an exact
        // exponent shift — and mean = 0.25 per dim (exact), so the
        // folded offset dot(mean, w) is exact (2.0 for the all-plus
        // row, 0.0 for the others). Only the eigen FIT is genuinely
        // non-SQL (a07, rows-only + PcaSpec); this pins
        // PCA.projectColumn's centering + literal-component dot
        // machinery against DuckDB's replay of the same literals.
        val d = 64
        val comps = Array.tabulate(4, d) { (r, i) =>
          if (java.lang.Integer.bitCount(r & i) % 2 == 0) 0.125 else -0.125
        }
        val model = graft.ops.PCA.PCAModel(
          mean = Array.fill(d)(0.25),
          components = comps,
          variance = new Array[Double](4))
        graft.ops.PCA.transform(Tables(s, dir).embeddings, "embedding", model, "p")
          .select(col("vec_id"),
            fround(element_at(col("p"), 1), 4).as("p1"),
            fround(element_at(col("p"), 2), 4).as("p2"),
            fround(element_at(col("p"), 3), 4).as("p3"),
            fround(element_at(col("p"), 4), 4).as("p4"))
          .orderBy("vec_id")
      },
      Some {
        val d = 64
        val comps = Array.tabulate(4, d) { (r, i) =>
          if (java.lang.Integer.bitCount(r & i) % 2 == 0) 0.125 else -0.125
        }
        // mirror PCA.projectColumn's offset fold exactly (sequential
        // sum over comp(i)*mean(i); exact arithmetic for these values)
        val cols = comps.zipWithIndex.map { case (w, c) =>
          val off = w.map(_ * 0.25).sum
          s"floor((list_sum(list_transform(list_zip(v, ${OracleSql.doubleListLiteral(w.toSeq)}), " +
            s"x -> x[1] * x[2])) - $off) * 10000.0 + 0.5) / 10000.0 AS p${c + 1}"
        }.mkString(",\n             |  ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
           |SELECT vec_id,
           |  $cols
           |FROM e ORDER BY vec_id""".stripMargin
      }),

    Q(
      "a08_kmeans",
      (s, dir) => {
        // Distributed k-means fit over the FULL embedding corpus (2
        // Lloyd iterations, k=4, init = first 4 vectors by id) + final
        // cluster census — the semantic-clustering primitive for corpus
        // balancing. Every iteration is one narrow assignment pass
        // (native CellArgmin, broadcast centers) + one (cell, dim)
        // aggregate collecting k×d rows; coordinates quantize to 1e-6
        // BEFORE re-broadcast, so the oracle's unrolled-CTE replay (avg
        // summation order and all) assigns identically. id_sum is an
        // exact-integer fingerprint of the final assignment.
        import graft.functions.VectorExpressions.cellArgmin
        val emb = Tables(s, dir).embeddings
        val centers = graft.ops.Similarity.kmeansFitDistributed(
          emb, "vec_id", "embedding", k = 4, iters = 2)
        emb.select(col("vec_id"),
          cellArgmin(col("embedding").cast("array<double>"), centers).as("cell"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_points"), sum("vec_id").as("id_sum"))
          .orderBy("cell")
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
             |a3 AS (SELECT vec_id, cell FROM (
             |    SELECT e.vec_id, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (e.v[i+1]-c.ctr[i+1])*(e.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM e CROSS JOIN c2f c) WHERE rn = 1)
             |SELECT CAST(cell AS INT) AS cell, count(*) AS n_points,
             |  CAST(sum(vec_id) AS BIGINT) AS id_sum
             |FROM a3 GROUP BY cell ORDER BY cell""".stripMargin)),

    Q(
      "a09_knn_int8",
      (s, dir) => {
        // kNN in the QUANTIZED domain: vectors store as int8 (native
        // one-pass `Int8Quantize`, FAISS SQ8-style per-vector scale —
        // 4× less memory/shuffle than float32, the standard corpus-
        // scale storage form) and ranking runs entirely on the int
        // vectors. Every cosine term is an exact small-integer sum in
        // double, so the scores — not just the ranking — are engine-
        // portable and hash-checked. Same broadcast-NL + native-heap
        // plan as a01.
        import graft.functions.VectorExpressions.int8Quantize
        val e = Tables(s, dir).embeddings
        def quant(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
          int8Quantize(col("embedding").cast("array<double>")).as("q"))
        knnBruteForce(
          quant(e.filter(col("vec_id") < 10)), quant(e.filter(col("vec_id") >= 10)),
          "vec_id", "q", k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            fround(col("cos"), 4).as("qcos"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
             |qz AS (SELECT vec_id,
             |    CASE WHEN mx = 0 THEN list_transform(v, x -> 0.0)
             |         ELSE list_transform(v, x -> floor(x * (127.0 / mx) + 0.5)) END AS q
             |  FROM m),
             |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |    list_sum(list_transform(range(64), i -> a.q[i+1] * b.q[i+1])) AS dot,
             |    list_sum(list_transform(range(64), i -> a.q[i+1] * a.q[i+1])) AS na,
             |    list_sum(list_transform(range(64), i -> b.q[i+1] * b.q[i+1])) AS nb
             |  FROM qz a JOIN qz b ON a.vec_id < 10 AND b.vec_id >= 10),
             |cosd AS (SELECT query_id, neighbor_id,
             |    CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0.0
             |         ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos
             |  FROM scored)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
             |  floor(cos * 10000.0 + 0.5) / 10000.0 AS qcos
             |FROM (SELECT query_id, neighbor_id, cos,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
             |      FROM cosd)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a10_mips",
      (s, dir) => {
        // Maximum-inner-product top-k via the norm-augmentation
        // reduction (see Similarity.mipsBruteForce): corpus vectors
        // gain sqrt(M²−‖c‖²), queries gain 0, cosine top-k in the
        // augmented space = inner-product top-k. Fully closed-form —
        // the oracle rebuilds the augmented vectors and replays the
        // identical cosine arithmetic.
        val e = Tables(s, dir).embeddings
        graft.ops.Similarity.mipsBruteForce(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            fround(col("cos"), 4).as("aug_cos"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |m AS (SELECT max(sqrt(list_sum(list_transform(v, x -> x * x)))) AS mn
             |      FROM e WHERE vec_id >= 10),
             |c AS (SELECT vec_id AS neighbor_id,
             |    v || [sqrt(greatest(0.0, mn * mn - list_sum(list_transform(v, x -> x * x))))] AS cva
             |  FROM e, m WHERE vec_id >= 10),
             |q AS (SELECT vec_id AS query_id, v || [0.0] AS qva FROM e WHERE vec_id < 10),
             |scored AS (SELECT query_id, neighbor_id,
             |    list_sum(list_transform(list_zip(qva, cva), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(qva, x -> x * x)))
             |         * sqrt(list_sum(list_transform(cva, x -> x * x)))) AS cos
             |  FROM q, c)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
             |  floor(cos * 10000.0 + 0.5) / 10000.0 AS aug_cos
             |FROM (SELECT query_id, neighbor_id, cos,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
             |      FROM scored)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a21_mips_lsh",
      (s, dir) => {
        // APPROXIMATE maximum-inner-product search — a10's norm-
        // augmentation reduction composed with a02's hyperplane-LSH
        // (Similarity.mipsLsh): the recommender/reranker serving
        // recipe where neither the corpus nor the dot scores are
        // normalized and a full scan per query is off the table.
        // Augmentation happens BEFORE bucketing, so the 65-dim
        // augmented vectors bucket under the same hyperplane keys the
        // oracle replays; candidates form only inside equi-keyed
        // (table, bucket) groups — never all-pairs — and rerank by
        // exact augmented cosine (∝ inner product per query). Every
        // stage is closed-form: M is a corpus max, the augmented
        // coordinate deterministic double arithmetic, the planes
        // seeded — DuckDB rebuilds vectors, buckets, and ranking
        // bit-for-bit. Misses vs a10's exact top-k are possible by
        // construction (recall spec'd in OpsSpec).
        val e = Tables(s, dir).embeddings
        graft.ops.Similarity.mipsLsh(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", k = 5, dim = 64)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            fround(col("cos"), 4).as("aug_cos"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |m AS (SELECT max(sqrt(list_sum(list_transform(v, x -> x * x)))) AS mn
             |      FROM e0 WHERE vec_id >= 10),
             |ea AS (SELECT vec_id,
             |    CASE WHEN vec_id >= 10 THEN
             |      v || [sqrt(greatest(0.0, mn * mn - list_sum(list_transform(v, x -> x * x))))]
             |    ELSE v || [0.0] END AS v
             |  FROM e0, m),
             |cb AS (
             |  ${(0 until 12).map(t =>
                  s"SELECT vec_id AS neighbor_id, v AS cv, $t AS tbl, " +
                  OracleSql.hyperplaneBucket("v", dim = 65, planes = 8,
                    seed = 100 + t) +
                  " AS bucket FROM ea WHERE vec_id >= 10").mkString("\n  UNION ALL\n  ")}),
             |qb AS (
             |  ${(0 until 12).map(t =>
                  s"SELECT vec_id AS query_id, v AS qv, $t AS tbl, " +
                  OracleSql.hyperplaneBucket("v", dim = 65, planes = 8,
                    seed = 100 + t) +
                  " AS bucket FROM ea WHERE vec_id < 10").mkString("\n  UNION ALL\n  ")}),
             |hits AS (SELECT qb.query_id, cb.neighbor_id,
             |    list_sum(list_transform(list_zip(qb.qv, cb.cv), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(qb.qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(cb.cv, x -> x * x)))) AS cos
             |  FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket),
             |best AS (SELECT query_id, neighbor_id, max(cos) AS cos FROM hits GROUP BY 1, 2),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
             |  FROM best)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
             |  floor(cos * 10000.0 + 0.5) / 10000.0 AS aug_cos
             |FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a11_embedding_outliers",
      (s, dir) => {
        // Embedding-space OUTLIER detection — the quality gate that
        // drops mis-embedded / out-of-domain vectors before dedup or
        // ANN indexing: squared distance to the per-label centroid,
        // flagged above the label's interpolated p95. Centroids are
        // a06's model-sized broadcast build; distances quantize to
        // integer 1e-4 units BEFORE the percentile (centroid averages
        // differ by summation-order ulps across engines); Spark
        // `percentile` == DuckDB `quantile_cont` (q23's precedent).
        val e = Tables(s, dir).embeddings
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        val cents = e
          .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("clabel", "pos").agg(avg("x").as("cx"))
          .groupBy("clabel")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
            p => p.getField("cx")).as("cv"))
        // the scored frame feeds BOTH the percentile and the final
        // aggregate — sharedScan computes the centroid build + distance
        // pass once (the naive two-branch plan recomputes the whole
        // subtree per branch, d09's lesson)
        val scored = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(e
          .join(broadcast(cents), col("label") === col("clabel"))
          .select(col("label"), col("vec_id"),
            floor(graft.ops.Similarity.sqDist(col("v"), col("cv")) * 1e4 + 0.5)
              .cast("long").as("d2u")))
        val stats = scored.groupBy("label")
          .agg(expr("percentile(d2u, 0.95)").as("p95"))
        scored.join(broadcast(stats), "label")
          .groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("d2u").cast("double") > col("p95"), 1L).otherwise(0L))
              .as("n_outliers"),
            fround(max("p95") / 1e4, 4).as("p95_d2"))
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |expl AS (SELECT label AS clabel, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
             |cvec AS (SELECT clabel, list(cx ORDER BY pos) AS cv
             |  FROM (SELECT clabel, pos, avg(x) AS cx FROM expl GROUP BY 1, 2)
             |  GROUP BY clabel),
             |scored AS (SELECT e.label, e.vec_id,
             |    CAST(floor(list_sum(list_transform(list_zip(e.v, c.cv),
             |      p -> (p[1] - p[2]) * (p[1] - p[2]))) * 1e4 + 0.5) AS BIGINT) AS d2u
             |  FROM e JOIN cvec c ON e.label = c.clabel),
             |stats AS (SELECT label, quantile_cont(d2u, 0.95) AS p95 FROM scored GROUP BY 1)
             |SELECT label, count(*) AS n_vecs,
             |  CAST(sum(CASE WHEN d2u > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  floor(max(p95) / 1e4 * 10000.0 + 0.5) / 10000.0 AS p95_d2
             |FROM scored JOIN stats USING (label)
             |GROUP BY label ORDER BY label""".stripMargin)),

    Q(
      "a16_knn_prefiltered",
      (s, dir) => {
        // FILTERED vector search (every vector DB's flagship feature:
        // "nearest neighbors WHERE metadata matches"), in the
        // PRE-filter form — the predicate restricts the corpus BEFORE
        // cell probing, so top-k is computed over exactly the
        // qualifying vectors and always returns k of them. The
        // alternative (POST-filtering an unfiltered top-k) silently
        // under-returns when the predicate is selective — with label
        // IN (1, 3) keeping ~19% of this corpus, a post-filtered k=5
        // would average under one row per query. The quantizer stays
        // the UNFILTERED index's frozen centers (a05/l03's 16 seed
        // vectors): a production index is built once and serves every
        // predicate, so assignment must not depend on the filter; at
        // scale the predicate pushes into the probed-cell scans
        // (cell AND label are both parquet-prunable under l03's
        // layout).
        val e = Tables(s, dir).embeddings
        val centers = e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
          .orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        knnIvfWithCenters(
          e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") >= 10 && col("label").isin(1, 3)),
          "vec_id", "embedding", k = 5, centers, nprobe = 6)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            fround(col("cos"), 4).as("cos"))
          .orderBy("query_id", "rank")
      },
      // a05's oracle with the predicate applied where the engine
      // applies it: on the corpus, before assignment/probing
      Some("""WITH e AS (SELECT vec_id, label,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cents AS (SELECT vec_id - 10 AS cell, v AS cv FROM e
             |          WHERE vec_id >= 10 AND vec_id < 26),
             |assign AS (SELECT neighbor_id, v, cell FROM (
             |    SELECT c.vec_id AS neighbor_id, c.v, t.cell,
             |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
             |        list_sum(list_transform(list_zip(c.v, t.cv),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), t.cell) AS rn
             |    FROM (SELECT * FROM e WHERE vec_id >= 10
             |          AND label IN (1, 3)) c, cents t)
             |  WHERE rn = 1),
             |probes AS (SELECT query_id, qv, cell FROM (
             |    SELECT q.vec_id AS query_id, q.v AS qv, t.cell,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        list_sum(list_transform(list_zip(q.v, t.cv),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), t.cell) AS rn
             |    FROM (SELECT * FROM e WHERE vec_id < 10) q, cents t)
             |  WHERE rn <= 6),
             |hits AS (SELECT p.query_id, a.neighbor_id,
             |    list_sum(list_transform(list_zip(p.qv, a.v), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(a.v, x -> x * x)))) AS cos
             |  FROM probes p JOIN assign a ON p.cell = a.cell)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
             |  floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
             |FROM (SELECT query_id, neighbor_id, cos,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
             |      FROM hits)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a17_ann_recall",
      (s, dir) => {
        // Index-quality gauge: recall@5 of a05's fixed-center IVF at a
        // DELIBERATELY narrow nprobe = 2 (so recall is genuinely < 1
        // and the measurement is load-bearing) against the exact brute-
        // force top-5 — the number a production ANN deployment watches
        // for probe-width tuning and index staleness. Both retrieval
        // legs AND the intersection arithmetic are under the oracle;
        // per-query hits and floor-ppm recall are integer end to end.
        val e = Tables(s, dir).embeddings
        val centers = e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
          .orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val qs = e.filter(col("vec_id") < 10)
        val corpus = e.filter(col("vec_id") >= 10)
        val ann = knnIvfWithCenters(qs, corpus,
          "vec_id", "embedding", k = 5, centers, nprobe = 2)
        val exact = knnBruteForce(qs, corpus, "vec_id", "embedding", k = 5)
        annRecall(ann, exact, k = 5).orderBy("query_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cents AS (SELECT vec_id - 10 AS cell, v AS cv FROM e
             |          WHERE vec_id >= 10 AND vec_id < 26),
             |assign AS (SELECT neighbor_id, v, cell FROM (
             |    SELECT c.vec_id AS neighbor_id, c.v, t.cell,
             |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
             |        list_sum(list_transform(list_zip(c.v, t.cv),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), t.cell) AS rn
             |    FROM (SELECT * FROM e WHERE vec_id >= 10) c, cents t)
             |  WHERE rn = 1),
             |probes AS (SELECT query_id, qv, cell FROM (
             |    SELECT q.vec_id AS query_id, q.v AS qv, t.cell,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        list_sum(list_transform(list_zip(q.v, t.cv),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), t.cell) AS rn
             |    FROM (SELECT * FROM e WHERE vec_id < 10) q, cents t)
             |  WHERE rn <= 2),
             |ivfhits AS (SELECT p.query_id, a.neighbor_id,
             |    list_sum(list_transform(list_zip(p.qv, a.v), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(a.v, x -> x * x)))) AS cos
             |  FROM probes p JOIN assign a ON p.cell = a.cell),
             |ann AS (SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
             |    FROM ivfhits) WHERE rn <= 5),
             |sims AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    list_sum(list_transform(list_zip(q.v, c.v), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
             |         * sqrt(list_sum(list_transform(c.v, x -> x * x)))) AS cos
             |  FROM (SELECT * FROM e WHERE vec_id < 10) q,
             |       (SELECT * FROM e WHERE vec_id >= 10) c),
             |exact AS (SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
             |    FROM sims) WHERE rn <= 5),
             |scored AS (SELECT x.query_id, count(a.neighbor_id) AS hits
             |  FROM exact x LEFT JOIN ann a
             |    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
             |  GROUP BY x.query_id)
             |SELECT query_id, CAST(hits AS BIGINT) AS hits,
             |  CAST((hits * 1000000) // 5 AS BIGINT) AS recall_ppm
             |FROM scored ORDER BY query_id""".stripMargin)),

    Q(
      "a04_knn_ivf",
      (s, dir) => {
        // The FULL IVF flow — sampled Lloyd quantizer fit + probe/rerank
        // — under the oracle: the replayable quantizer (sample = first
        // 4096 corpus vectors BY ID, init = first 16, 2 Lloyd rounds
        // with 1e-6-quantized means — a08's cross-engine determinism
        // trick) unrolls to a CTE chain, so unlike a05 (fixed seed
        // centers, no fit) the quantizer TRAINING is hash-checked too.
        // nprobe 6/16: the synthetic embeddings are near-uniform on the
        // sphere, so IVF needs wider probing for decent recall (~0.8
        // here; ≥0.9 on genuinely clustered data, see SimilaritySpec,
        // which also covers knnIvf's default 10-round seeded quantizer).
        val e = Tables(s, dir).embeddings
        val corpus = e.filter(col("vec_id") >= 10)
        val centers = graft.ops.Similarity.ivfQuantizerReplayable(
          corpus, "vec_id", "embedding", clusters = 16, iters = 2)
        knnIvfWithCenters(
          e.filter(col("vec_id") < 10), corpus,
          "vec_id", "embedding", k = 5, centers, nprobe = 6)
          .select(col("query_id"), col("rank"), col("neighbor_id"), fround(col("cos"), 4).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (SELECT vec_id, v FROM (
             |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
             |    FROM e WHERE vec_id >= 10) WHERE rn <= 4096),
             |c0 AS (SELECT rn - 1 AS cell, v AS ctr
             |       FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM s)
             |       WHERE rn <= 16),
             |a1 AS (SELECT vec_id, v, cell FROM (
             |    SELECT s.vec_id, s.v, c.cell,
             |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (s.v[i+1]-c.ctr[i+1])*(s.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM s CROSS JOIN c0 c) WHERE rn = 1),
             |c1 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i FROM a1)
             |    GROUP BY cell, i) GROUP BY cell),
             |c1f AS (SELECT c0.cell, coalesce(c1.ctr, c0.ctr) AS ctr
             |        FROM c0 LEFT JOIN c1 USING (cell)),
             |a2 AS (SELECT vec_id, v, cell FROM (
             |    SELECT s.vec_id, s.v, c.cell,
             |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (s.v[i+1]-c.ctr[i+1])*(s.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM s CROSS JOIN c1f c) WHERE rn = 1),
             |c2 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i FROM a2)
             |    GROUP BY cell, i) GROUP BY cell),
             |c2f AS (SELECT c1f.cell, coalesce(c2.ctr, c1f.ctr) AS ctr
             |        FROM c1f LEFT JOIN c2 USING (cell)),
             |assign AS (SELECT neighbor_id, v, cell FROM (
             |    SELECT c.vec_id AS neighbor_id, c.v, t.cell,
             |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (c.v[i+1]-t.ctr[i+1])*(c.v[i+1]-t.ctr[i+1]))), t.cell) AS rn
             |    FROM (SELECT * FROM e WHERE vec_id >= 10) c CROSS JOIN c2f t)
             |  WHERE rn = 1),
             |probes AS (SELECT query_id, qv, cell FROM (
             |    SELECT q.vec_id AS query_id, q.v AS qv, t.cell,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (q.v[i+1]-t.ctr[i+1])*(q.v[i+1]-t.ctr[i+1]))), t.cell) AS rn
             |    FROM (SELECT * FROM e WHERE vec_id < 10) q CROSS JOIN c2f t)
             |  WHERE rn <= 6),
             |hits AS (SELECT p.query_id, a.neighbor_id,
             |    list_sum(list_transform(list_zip(p.qv, a.v), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(a.v, x -> x * x)))) AS cos
             |  FROM probes p JOIN assign a ON p.cell = a.cell)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
             |  floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
             |FROM (SELECT query_id, neighbor_id, cos,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
             |      FROM hits)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a12_knn_pq",
      (s, dir) => {
        // Product quantization with DETERMINISTIC codebooks: subspace
        // j's 16 centroids are the j-th 16-dim slices of seed vectors
        // vec_id 10..25 (a05's fixed-quantizer move applied per
        // subspace), so encode → reconstruct → ADC rank is closed-form
        // and DuckDB replays every argmin and every 64-add distance sum
        // bit-for-bit. Production trains codebooks via `pqCodebooks`
        // (bounded sample + per-subspace Lloyd; recall spec'd).
        val e = Tables(s, dir).embeddings
        val seeds = e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
          .orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val dsub = 16
        val codebooks = Array.tabulate(4)(j =>
          seeds.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)))
        graft.ops.Similarity.knnPq(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", k = 5, codebooks)
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cb AS (SELECT vec_id - 10 AS code, v FROM e
             |       WHERE vec_id >= 10 AND vec_id < 26),
             |c AS (SELECT vec_id AS neighbor_id, v FROM e WHERE vec_id >= 10),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
             |assign AS (SELECT neighbor_id, j, code FROM (
             |    SELECT c.neighbor_id, s.j, cb.code,
             |      row_number() OVER (PARTITION BY c.neighbor_id, s.j ORDER BY
             |        list_sum(list_transform(list_zip(
             |            c.v[s.j*16+1 : s.j*16+16], cb.v[s.j*16+1 : s.j*16+16]),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), cb.code) AS rn
             |    FROM c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) s CROSS JOIN cb)
             |  WHERE rn = 1),
             |slices AS (SELECT a.neighbor_id, a.j,
             |    cb.v[a.j*16+1 : a.j*16+16] AS sl
             |  FROM assign a JOIN cb USING (code)),
             |recon AS (SELECT neighbor_id, flatten(list(sl ORDER BY j)) AS rv
             |  FROM slices GROUP BY neighbor_id),
             |hits AS (SELECT q.query_id, r.neighbor_id,
             |    floor(list_sum(list_transform(list_zip(q.qv, r.rv),
             |        p -> (p[1] - p[2]) * (p[1] - p[2]))) * 1000000.0 + 0.5)
             |      / 1000000.0 AS adist
             |  FROM q CROSS JOIN recon r)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, adist
             |FROM (SELECT query_id, neighbor_id, adist,
             |        row_number() OVER (PARTITION BY query_id
             |          ORDER BY adist, neighbor_id) AS rn
             |      FROM hits)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a20_knn_pq_rerank",
      (s, dir) => {
        // Two-stage PQ retrieval (FAISS IndexRefineFlat): a12's exact
        // fixed-codebook ADC pass keeps a 20-wide shortlist per query,
        // then ONLY those 20 ids rerank by exact cosine against the
        // original vectors — the production serving recipe where the
        // approximation's job is recall into the shortlist, not final
        // order. Shortlist is (queries × 20) id pairs, broadcast into
        // an id-equi probe of the corpus (never a second full scan's
        // worth of exact math); with a12's deterministic codebooks the
        // whole two-stage flow is closed-form for DuckDB.
        val e = Tables(s, dir).embeddings
        val seeds = e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
          .orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val dsub = 16
        val codebooks = Array.tabulate(4)(j =>
          seeds.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)))
        graft.ops.Similarity.knnPqRerank(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", k = 5, kShort = 20, codebooks)
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cb AS (SELECT vec_id - 10 AS code, v FROM e
             |       WHERE vec_id >= 10 AND vec_id < 26),
             |c AS (SELECT vec_id AS neighbor_id, v FROM e WHERE vec_id >= 10),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
             |assign AS (SELECT neighbor_id, j, code FROM (
             |    SELECT c.neighbor_id, s.j, cb.code,
             |      row_number() OVER (PARTITION BY c.neighbor_id, s.j ORDER BY
             |        list_sum(list_transform(list_zip(
             |            c.v[s.j*16+1 : s.j*16+16], cb.v[s.j*16+1 : s.j*16+16]),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), cb.code) AS rn
             |    FROM c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) s CROSS JOIN cb)
             |  WHERE rn = 1),
             |slices AS (SELECT a.neighbor_id, a.j,
             |    cb.v[a.j*16+1 : a.j*16+16] AS sl
             |  FROM assign a JOIN cb USING (code)),
             |recon AS (SELECT neighbor_id, flatten(list(sl ORDER BY j)) AS rv
             |  FROM slices GROUP BY neighbor_id),
             |hits AS (SELECT q.query_id, r.neighbor_id,
             |    floor(list_sum(list_transform(list_zip(q.qv, r.rv),
             |        p -> (p[1] - p[2]) * (p[1] - p[2]))) * 1000000.0 + 0.5)
             |      / 1000000.0 AS adist
             |  FROM q CROSS JOIN recon r),
             |short AS (SELECT query_id, neighbor_id
             |  FROM (SELECT query_id, neighbor_id,
             |          row_number() OVER (PARTITION BY query_id
             |            ORDER BY adist, neighbor_id) AS rn
             |        FROM hits)
             |  WHERE rn <= 20),
             |rr AS (SELECT s.query_id, s.neighbor_id,
             |    floor(list_sum(list_transform(list_zip(q.qv, c.v), p -> p[1] * p[2]))
             |      / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(c.v, x -> x * x))))
             |      * 1000000.0) / 1000000.0 AS cos
             |  FROM short s JOIN q USING (query_id) JOIN c USING (neighbor_id))
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cos
             |FROM (SELECT query_id, neighbor_id, cos,
             |        row_number() OVER (PARTITION BY query_id
             |          ORDER BY cos DESC, neighbor_id) AS rn
             |      FROM rr)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a13_knn_graph",
      (s, dir) => {
        // Corpus-wide mutual 3-NN graph: LSH self-bucketing (8 planes
        // so sf0.01 buckets actually collide), pairwise cosine once
        // per (src, dst), native heap top-k per node, then the mutual
        // left-semi filter. DuckDB replays bucketing, dedup, ranking,
        // and mutuality exactly. The gate corpus is capped at the
        // sf0.1 base range (a no-op at the oracle SF, where every
        // vec_id < 500): with the plane count PINNED for the static
        // oracle, in-bucket pair volume is Σg² ≈ n²/2^planes —
        // quadratic in n (14.5× measured at 10× rows uncapped). At
        // real scale the operator's knob is planes ∝ log₂(n), which
        // holds per-bucket occupancy (and so total candidate volume)
        // linear; the cap keeps the driver gate SF-independent
        // instead of silently measuring that quadratic.
        val e = Tables(s, dir).embeddings.filter(col("vec_id") < 2000)
        graft.ops.Similarity.knnGraph(
          e, "vec_id", "embedding", k = 3, dim = 64,
          planes = 8, tables = 4, mutual = true)
          .select(col("src"), col("rank"), col("dst"),
            fround(col("cos"), 4).as("cos"))
          .orderBy("src", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |kb AS (
             |  ${lshKeyedSql("TRUE", "id", "kv", dim = 64, planes = 8, tables = 4)}),
             |hits AS (SELECT a.id AS src, b.id AS dst,
             |    list_sum(list_transform(list_zip(a.kv, b.kv), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(a.kv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(b.kv, x -> x * x)))) AS cos
             |  FROM kb a JOIN kb b
             |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id),
             |best AS (SELECT src, dst, max(cos) AS cos FROM hits GROUP BY 1, 2),
             |ranked AS (SELECT src, dst, cos,
             |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
             |  FROM best),
             |topk AS (SELECT src, dst, cos, rn FROM ranked WHERE rn <= 3)
             |SELECT t.src, CAST(t.rn AS INT) AS rank, t.dst,
             |  floor(t.cos * 10000.0 + 0.5) / 10000.0 AS cos
             |FROM topk t
             |WHERE EXISTS (SELECT 1 FROM topk r
             |              WHERE r.src = t.dst AND r.dst = t.src)
             |ORDER BY src, rank""".stripMargin)),

    Q(
      "a14_range_search",
      (s, dir) => {
        // Cosine range search: every corpus vector within cosine ≥ τ
        // of any of the 10 query vectors — the recall-shaped primitive
        // top-k can't express (a query with 40 near-dups returns all
        // 40, one with none returns none). τ = 0.25 sits in the tail
        // of the 64-d Gaussian cosine distribution, so hits are sparse
        // but nonempty. Exact scan, filter before any shuffle; cos
        // rounds to 4dp on both sides.
        val e = Tables(s, dir).embeddings
        rangeSearch(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", tau = 0.25)
          .select(col("query_id"), col("neighbor_id"),
            fround(col("cos"), 4).as("cos"))
          .orderBy("query_id", "neighbor_id")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
             |           FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
             |      FROM embeddings WHERE vec_id >= 10),
             |sims AS (SELECT query_id, neighbor_id,
             |    list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos
             |  FROM q, c)
             |SELECT query_id, neighbor_id,
             |  floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
             |FROM sims WHERE cos >= 0.25
             |ORDER BY query_id, neighbor_id""".stripMargin)),

    Q(
      "a15_knn_ivf_pq",
      (s, dir) => {
        // IVF-PQ composite — the production ANN recipe: a05's fixed
        // coarse quantizer prunes to 6 of 16 cells, a12's fixed
        // per-subspace codebooks score the survivors by
        // reconstruction-ADC. Both parameter sets are the same seed
        // vectors (vec_id 10..25), so the entire composed operator is
        // closed-form and DuckDB replays cell assignment, probing,
        // encoding, reconstruction, and ranking bit-for-bit.
        val e = Tables(s, dir).embeddings
        val seeds = e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
          .orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val dsub = 16
        val codebooks = Array.tabulate(4)(j =>
          seeds.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)))
        graft.ops.Similarity.knnIvfPq(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", k = 5, seeds, nprobe = 6, codebooks)
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cents AS (SELECT vec_id - 10 AS cell, v AS cv FROM e
             |          WHERE vec_id >= 10 AND vec_id < 26),
             |cb AS (SELECT vec_id - 10 AS code, v FROM e
             |       WHERE vec_id >= 10 AND vec_id < 26),
             |c AS (SELECT vec_id AS neighbor_id, v FROM e WHERE vec_id >= 10),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
             |cells AS (SELECT neighbor_id, cell FROM (
             |    SELECT c.neighbor_id, t.cell,
             |      row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
             |        list_sum(list_transform(list_zip(c.v, t.cv),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), t.cell) AS rn
             |    FROM c, cents t)
             |  WHERE rn = 1),
             |pqa AS (SELECT neighbor_id, j, code FROM (
             |    SELECT c.neighbor_id, s.j, cb.code,
             |      row_number() OVER (PARTITION BY c.neighbor_id, s.j ORDER BY
             |        list_sum(list_transform(list_zip(
             |            c.v[s.j*16+1 : s.j*16+16], cb.v[s.j*16+1 : s.j*16+16]),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), cb.code) AS rn
             |    FROM c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) s CROSS JOIN cb)
             |  WHERE rn = 1),
             |recon AS (SELECT neighbor_id, flatten(list(sl ORDER BY j)) AS rv
             |  FROM (SELECT a.neighbor_id, a.j, cb.v[a.j*16+1 : a.j*16+16] AS sl
             |        FROM pqa a JOIN cb USING (code))
             |  GROUP BY neighbor_id),
             |probes AS (SELECT query_id, qv, cell FROM (
             |    SELECT q.query_id, q.qv, t.cell,
             |      row_number() OVER (PARTITION BY q.query_id ORDER BY
             |        list_sum(list_transform(list_zip(q.qv, t.cv),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), t.cell) AS rn
             |    FROM q, cents t)
             |  WHERE rn <= 6),
             |hits AS (SELECT p.query_id, r.neighbor_id,
             |    floor(list_sum(list_transform(list_zip(p.qv, r.rv),
             |        p2 -> (p2[1] - p2[2]) * (p2[1] - p2[2]))) * 1000000.0 + 0.5)
             |      / 1000000.0 AS adist
             |  FROM probes p JOIN cells cl ON cl.cell = p.cell
             |  JOIN recon r ON r.neighbor_id = cl.neighbor_id)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, adist
             |FROM (SELECT query_id, neighbor_id, adist,
             |        row_number() OVER (PARTITION BY query_id
             |          ORDER BY adist, neighbor_id) AS rn
             |      FROM hits)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a18_knn_text_tf",
      (s, dir) => {
        // Text→vector END TO END: every other ANN query consumes the
        // synthesized embeddings table; this one DERIVES its vectors
        // from raw corpus text via the signed hashing-trick TF
        // featurizer (TextAnalysis.hashingTf — md5-bucketed ±1 token
        // counts, d=64, no vocabulary, no fit, exact integers) and
        // then runs a01's brute cosine top-k over the derived
        // vectors. Integer-valued doubles keep every dot product /
        // norm exact, so the cosine — not just the ranking — is
        // engine-portable; the oracle replays tokenize → bucket →
        // sign → assemble → cosine → rank bit-for-bit.
        val d = Tables(s, dir).documents
        val vecs = graft.ops.TextAnalysis.hashingTf(
          d, "doc_id", "text", dim = 64)
        knnBruteForce(
          vecs.filter(col("doc_id") < 10), vecs.filter(col("doc_id") >= 10),
          "doc_id", "tf_vec", k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            fround(col("cos"), 4).as("tf_cos"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${hashingTfSql("TRUE")},
              |scored AS (SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
              |    list_sum(list_transform(range(64), i -> a.v[i+1] * b.v[i+1])) AS dot,
              |    list_sum(list_transform(range(64), i -> a.v[i+1] * a.v[i+1])) AS na,
              |    list_sum(list_transform(range(64), i -> b.v[i+1] * b.v[i+1])) AS nb
              |  FROM vecs a JOIN vecs b ON a.doc_id < 10 AND b.doc_id >= 10),
              |cosd AS (SELECT query_id, neighbor_id,
              |    CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0.0
              |         ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos
              |  FROM scored)
              |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
              |  floor(cos * 10000.0 + 0.5) / 10000.0 AS tf_cos
              |FROM (SELECT query_id, neighbor_id, cos,
              |        row_number() OVER (PARTITION BY query_id
              |          ORDER BY cos DESC, neighbor_id) AS rn
              |      FROM cosd)
              |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a19_text_semantic_dedup",
      (s, dir) => {
        // The a18 featurizer COMPOSED with the d08 dedup machinery —
        // semantic near-dup candidate mining on raw corpus text with
        // NO embeddings table anywhere: signed hashing-TF vectors
        // (d=64, exact integers) → multi-table hyperplane-LSH →
        // bounded in-bucket exact-cosine ≥ 0.9 pairs. Planted
        // duplicate texts featurize to IDENTICAL vectors (cosine 1 in
        // every table); τ=0.9 also surfaces near-identical variants.
        // Candidates form only inside equi-keyed bucket groups — the
        // bucketed (never all-pairs) plan that runs at 100 TB; pairs
        // dedupe across tables. Integer vectors keep every dot/norm
        // exact, so the oracle replays featurize → bucket → cosine →
        // pair bit-for-bit.
        // sharedScan the DERIVED vector frame: the dedup machinery
        // branches its keyed input 4 ways (sizes join, small-bucket,
        // star min/members), and without sharing, the whole
        // explode+aggregate featurizer pipeline re-executes per
        // branch — measured 13.3 s vs 2.8 s at sf0.1 (d10's lesson;
        // d08 doesn't need it because its input is a parquet scan).
        // The gate corpus caps at the sf0.1 base id range (a no-op at
        // every driver SF): with the plane count PINNED for the
        // static oracle, in-bucket pair volume is Σg² — quadratic in
        // n (7.2× measured at 10× rows uncapped, 54.7 s in-sweep).
        // At real scale the operator's knob is planes ∝ log₂(n),
        // which holds per-bucket occupancy linear (a13's note); the
        // cap keeps the driver gate SF-independent instead of
        // silently measuring that quadratic. The all-pairs oracle
        // assumes no bucket exceeds the operator's maxBucket (4096)
        // on the gated slice — true by construction here (≤5000 docs
        // total) but the d08-family caveat stands: a mass-duplicated
        // corpus would star-collapse engine-side while the oracle
        // enumerates the clique.
        val d = Tables(s, dir).documents.filter(col("doc_id") < 5000)
        val vecs = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(
          graft.ops.TextAnalysis.hashingTf(d, "doc_id", "text", dim = 64))
        graft.ops.Dedup.cosineCandidatePairs(vecs, "doc_id", "tf_vec",
            threshold = 0.9, dim = 64, planes = 12, tables = 4, seed = 5)
          .distinct()
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${hashingTfSql("doc_id < 5000")},
              |kb AS MATERIALIZED (
              |  ${(0 until 4).map(t =>
                   s"SELECT doc_id, v, $t AS tbl, " +
                   OracleSql.hyperplaneBucket("v", dim = 64, planes = 12,
                     seed = 5 + t) +
                   " AS bucket FROM vecs").mkString("\n  UNION ALL\n  ")})
              |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |FROM kb a JOIN kb b
              |  ON a.tbl = b.tbl AND a.bucket = b.bucket
              |  AND a.doc_id < b.doc_id
              |WHERE list_sum(list_transform(list_zip(a.v, b.v),
              |      x -> x[1] * x[2]))
              |    / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
              |       * sqrt(list_sum(list_transform(b.v, x -> x * x))))
              |    >= 0.9
              |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "st17_stream_vector_search",
      (s, dir) => {
        // STREAMING vector search under the DuckDB oracle — ANN
        // serving, the online leg beside batch index builds: query
        // vectors stream against a05's frozen IVF index (same 16 seed
        // centers, same native CellProbes probing, nprobe 6). The
        // streaming plan is a STATELESS append — explode probe cells →
        // stream-static equi-join against the per-cell inverted lists
        // → row-local score + shard-local top-5 (sorted inside the
        // row, no aggregate, no state store, no watermark) — and the
        // drained candidates merge with the same (cos desc, id) heap
        // the batch operator uses, hash-matching a05's own oracle
        // verbatim: top-k of a union = top-k of per-shard top-ks.
        // collect() is the MemoryStream feeding harness + the
        // model-sized center fetch.
        import graft.streaming.VectorSearchStream
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, Array[Double])]
        val e = Tables(s, dir).embeddings
        val centers = e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
          .orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val lists = VectorSearchStream.invertedLists(
          e.filter(col("vec_id") >= 10), "vec_id", "embedding", centers)
        val rows = e.filter(col("vec_id") < 10).orderBy("vec_id")
          .select(col("vec_id"), col("embedding").cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Array[Double])]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            VectorSearchStream.probeStream(
                stream.toDS().toDF("vec_id", "embedding"),
                "vec_id", "embedding", lists, centers, nprobe = 6, k = 5),
            "st17_hits")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .groupBy("query_id")
          .agg(graft.functions.VectorExpressions
            .topKByScore(col("neighbor_id"), col("cos"), 5).as("topk"))
          .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "nb")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
            col("nb.id").as("neighbor_id"), fround(col("nb.score"), 4).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some(a05IvfFlatSql)),

    Q(
      "a22_pca_sketch",
      (s, dir) => {
        // The randomized range-finder's SKETCH pass (Halko et al.
        // 2011) under the DuckDB oracle: S = C·Ω for the seeded
        // Gaussian probe below, computed WITHOUT forming the d×d
        // covariance — fitRandomized's pass 1 (PCA.covSketch, one
        // treeAggregate with a d×l accumulator), the part of
        // randomized PCA that touches data and the part that matters
        // at 100 TB (d = 4096 makes fit's d² moments 134 MB/task; the
        // sketch is d×l). The full fit on top — QR, power pass, small
        // eig — is driver-sized and PcaSpec pins it against the exact
        // eigensolver; this gate replays the distributed multiply
        // bit-for-bit (Ω as literals, sums quantized at 1e-6, the
        // gp11 discipline).
        val d = 64
        val l = 8
        val rnd = new java.util.Random(11L)
        val omega = Array.fill(d, l)(rnd.nextGaussian())
        val (_, _, sk) = graft.ops.PCA.covSketch(
          Tables(s, dir).embeddings, "embedding", omega)
        import s.implicits._
        (for { i <- 0 until d; j <- 0 until l }
          yield (i, j, math.floor(sk(i, j) * 1e6 + 0.5) / 1e6))
          .toDF("i", "j", "s").orderBy("i", "j")
      },
      Some {
        val d = 64
        val l = 8
        val rnd = new java.util.Random(11L)
        val omega = Array.fill(d, l)(rnd.nextGaussian())
        val omLit = (for { i <- 0 until d; j <- 0 until l }
          yield s"($i,$j,${omega(i)(j)})").mkString(",")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |           FROM embeddings),
           |cells AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS i,
           |          unnest(v) AS x FROM e),
           |om(i, j, w) AS (SELECT * FROM (VALUES $omLit)),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
           |t AS (SELECT c.vec_id, o.j, sum(c.x * o.w) AS t
           |      FROM cells c JOIN om o USING (i) GROUP BY c.vec_id, o.j),
           |xt AS (SELECT c.i, t.j, sum(c.x * t.t) AS xt
           |       FROM cells c JOIN t USING (vec_id) GROUP BY c.i, t.j),
           |mu AS (SELECT i, sum(x) / n AS m
           |       FROM cells CROSS JOIN nn GROUP BY i, n),
           |tmu AS (SELECT o.j, sum(mu.m * o.w) AS tm
           |        FROM mu JOIN om o USING (i) GROUP BY o.j)
           |SELECT CAST(xt.i AS INT) AS i, CAST(xt.j AS INT) AS j,
           |  floor((xt.xt - n * mu.m * tmu.tm) / (n - 1) * 1e6 + 0.5) / 1e6 AS s
           |FROM xt JOIN mu USING (i) JOIN tmu USING (j) CROSS JOIN nn
           |ORDER BY i, j""".stripMargin
      }),

    Q(
      "a23_knn_binary",
      (s, dir) => {
        // BINARY-quantized kNN (Similarity.knnBinary): sign-bit
        // packing into ⌈d/32⌉ long words, XOR+popcount Hamming
        // shortlist (30-wide), exact cosine rerank — the 1-bit tier
        // completing the a09→a12→a23 quantization ladder. Hamming and
        // the shortlist membership are pure integers (ham asc, id
        // tie-break), so the oracle replays the shortlist from the
        // raw sign disagreements without modeling the packed words,
        // then reruns a20's quantized-cosine rerank.
        val e = Tables(s, dir).embeddings
        graft.ops.Similarity.knnBinary(
            e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
            "vec_id", "embedding", k = 5, kShort = 30)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            fround(col("cos"), 4).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
             |           FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
             |      FROM embeddings WHERE vec_id >= 10),
             |hd AS (SELECT qid, nid,
             |    len(list_filter(range(64), i ->
             |      (qv[CAST(i AS INT) + 1] > 0) <> (cv[CAST(i AS INT) + 1] > 0)))
             |      AS ham
             |  FROM q, c),
             |short AS (SELECT qid, nid FROM (
             |    SELECT qid, nid,
             |      row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
             |    FROM hd) WHERE rn <= 30),
             |rr AS (SELECT s.qid, s.nid,
             |    floor(list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(cv, x -> x * x)))) * 1e6) / 1e6
             |      AS cos
             |  FROM short s JOIN q ON q.qid = s.qid JOIN c ON c.nid = s.nid)
             |SELECT qid AS query_id, CAST(rn AS INT) AS rank,
             |  nid AS neighbor_id,
             |  floor(cos * 1e4 + 0.5) / 1e4 AS cos
             |FROM (SELECT qid, nid, cos,
             |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
             |      FROM rr)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a24_knn_graph_search",
      (s, dir) => {
        // Graph-ANN QUERY side (Similarity.knnGraphSearch): a13 built
        // the kNN-graph substrate; this searches it — deterministic
        // 3-round beam search (beam 6) from fixed entry points 10/11
        // over the DIRECTED 3-NN graph (mutual=false: search wants
        // out-edges everywhere, not the dedup-clustering mutual
        // filter). Every hop is (floor-quantized cos desc, id asc) —
        // x13's hash-min discipline applied to beam ANN — so the
        // oracle replays the graph (a13's CTEs sans the mutual
        // filter), then each beam round as UNION-expand + rank.
        // Corpus caps at the a13 base range (oracle-SF no-op; same
        // Σg² quadratic-candidate argument).
        val e = Tables(s, dir).embeddings
        val corpus = e.filter(col("vec_id") >= 10 && col("vec_id") < 2000)
        val queries = e.filter(col("vec_id") < 10)
        val graph = graft.ops.Similarity.knnGraph(
          corpus, "vec_id", "embedding", k = 3, dim = 64,
          planes = 8, tables = 4, mutual = false)
        graft.ops.Similarity.knnGraphSearch(
            queries, corpus, "vec_id", "embedding", graph,
            entries = Seq(10L, 11L), k = 3, beam = 6, rounds = 3)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            fround(col("cos"), 4).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |kb AS (
             |  ${lshKeyedSql("vec_id >= 10", "id", "kv", dim = 64, planes = 8, tables = 4)}),
             |hits AS (SELECT a.id AS src, b.id AS dst,
             |    list_sum(list_transform(list_zip(a.kv, b.kv), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(a.kv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(b.kv, x -> x * x)))) AS cos
             |  FROM kb a JOIN kb b
             |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id),
             |best AS (SELECT src, dst, max(cos) AS cos FROM hits GROUP BY 1, 2),
             |g AS (SELECT src, dst FROM (SELECT src, dst,
             |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
             |  FROM best) WHERE rn <= 3),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
             |c AS (SELECT vec_id AS nid, v AS cv FROM e WHERE vec_id >= 10),
             |sc AS MATERIALIZED (SELECT q.query_id, c.nid,
             |    floor(list_sum(list_transform(list_zip(q.qv, c.cv), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
             |         * sqrt(list_sum(list_transform(c.cv, x -> x * x)))) * 1e6) / 1e6
             |      AS cos
             |  FROM q CROSS JOIN c),
             |b0 AS (SELECT query_id, nid FROM sc WHERE nid IN (10, 11)),
             |u1 AS (SELECT query_id, nid FROM b0 UNION
             |       SELECT b.query_id, g.dst FROM b0 b JOIN g ON g.src = b.nid),
             |b1 AS (SELECT query_id, nid FROM (
             |    SELECT u.query_id, u.nid,
             |      row_number() OVER (PARTITION BY u.query_id
             |        ORDER BY sc.cos DESC, u.nid) AS rn
             |    FROM u1 u JOIN sc ON sc.query_id = u.query_id AND sc.nid = u.nid)
             |  WHERE rn <= 6),
             |u2 AS (SELECT query_id, nid FROM b1 UNION
             |       SELECT b.query_id, g.dst FROM b1 b JOIN g ON g.src = b.nid),
             |b2 AS (SELECT query_id, nid FROM (
             |    SELECT u.query_id, u.nid,
             |      row_number() OVER (PARTITION BY u.query_id
             |        ORDER BY sc.cos DESC, u.nid) AS rn
             |    FROM u2 u JOIN sc ON sc.query_id = u.query_id AND sc.nid = u.nid)
             |  WHERE rn <= 6),
             |u3 AS (SELECT query_id, nid FROM b2 UNION
             |       SELECT b.query_id, g.dst FROM b2 b JOIN g ON g.src = b.nid),
             |b3 AS (SELECT query_id, nid FROM (
             |    SELECT u.query_id, u.nid,
             |      row_number() OVER (PARTITION BY u.query_id
             |        ORDER BY sc.cos DESC, u.nid) AS rn
             |    FROM u3 u JOIN sc ON sc.query_id = u.query_id AND sc.nid = u.nid)
             |  WHERE rn <= 6)
             |SELECT query_id, CAST(rn AS INT) AS rank, nid AS neighbor_id,
             |  floor(cos * 1e4 + 0.5) / 1e4 AS cos
             |FROM (SELECT b.query_id, b.nid, sc.cos,
             |        row_number() OVER (PARTITION BY b.query_id
             |          ORDER BY sc.cos DESC, b.nid) AS rn
             |      FROM b3 b JOIN sc ON sc.query_id = b.query_id AND sc.nid = b.nid)
             |WHERE rn <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a25_knn_opq",
      (s, dir) => {
        // OPQ-style PQ (Similarity.knnOpq): a12's deterministic-
        // codebook PQ behind the scaled Walsh-Hadamard rotation
        // H64/8 — orthonormal, entries ±2⁻³, so every product is an
        // exact exponent shift and the rotated coordinates are
        // engine-portable sequential sums. Codebooks come from the
        // SAME rotated space (rotated seed vectors 10..25, sliced per
        // subspace — collected from the engine so driver and plan
        // arithmetic are one code path). The oracle computes H
        // in-SQL from the bit_count parity rule and replays rotation,
        // per-subspace argmin encode, reconstruction, and ADC ranking.
        val e = Tables(s, dir).embeddings
        val h = Array.tabulate(64, 64)((r, i) =>
          if (java.lang.Integer.bitCount(r & i) % 2 == 0) 0.125 else -0.125)
        val rotSeeds = e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
          .orderBy("vec_id")
          .select(graft.functions.VectorExpressions.matVecMul(
            col("embedding").cast("array<double>"), h))
          .collect().map(_.getSeq[Double](0).toArray)
        val dsub = 16
        val codebooks = Array.tabulate(4)(j =>
          rotSeeds.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)))
        graft.ops.Similarity.knnOpq(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", k = 5, h, codebooks)
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |rot AS MATERIALIZED (SELECT vec_id, list_transform(range(64), r ->
             |    list_sum(list_transform(range(64), i ->
             |      v[CAST(i AS INT) + 1] *
             |      (CASE WHEN bit_count(r & i) % 2 = 0
             |            THEN 0.125 ELSE -0.125 END)))) AS v
             |  FROM e),
             |cb AS (SELECT vec_id - 10 AS code, v FROM rot
             |       WHERE vec_id >= 10 AND vec_id < 26),
             |c AS (SELECT vec_id AS neighbor_id, v FROM rot WHERE vec_id >= 10),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM rot WHERE vec_id < 10),
             |assign AS (SELECT neighbor_id, j, code FROM (
             |    SELECT c.neighbor_id, s.j, cb.code,
             |      row_number() OVER (PARTITION BY c.neighbor_id, s.j ORDER BY
             |        list_sum(list_transform(list_zip(
             |            c.v[s.j*16+1 : s.j*16+16], cb.v[s.j*16+1 : s.j*16+16]),
             |          p -> (p[1] - p[2]) * (p[1] - p[2]))), cb.code) AS rn
             |    FROM c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) s CROSS JOIN cb)
             |  WHERE rn = 1),
             |slices AS (SELECT a.neighbor_id, a.j,
             |    cb.v[a.j*16+1 : a.j*16+16] AS sl
             |  FROM assign a JOIN cb USING (code)),
             |recon AS (SELECT neighbor_id, flatten(list(sl ORDER BY j)) AS rv
             |  FROM slices GROUP BY neighbor_id),
             |hits AS (SELECT q.query_id, r.neighbor_id,
             |    floor(list_sum(list_transform(list_zip(q.qv, r.rv),
             |        p -> (p[1] - p[2]) * (p[1] - p[2]))) * 1000000.0 + 0.5)
             |      / 1000000.0 AS adist
             |  FROM q CROSS JOIN recon r)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, adist
             |FROM (SELECT query_id, neighbor_id, adist,
             |        row_number() OVER (PARTITION BY query_id
             |          ORDER BY adist, neighbor_id) AS rn
             |      FROM hits)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a26_kmeans_parallel",
      (s, dir) => {
        // k-means|| initialization (Similarity.kmeansParallelInit) +
        // final assignment census — the scalable init Spark MLlib
        // defaults to, made oracle-replayable: 2 oversampling rounds
        // (ell=8) whose random coin is the salted md5 hash against a
        // threshold built from exact-long quantized costs, candidates
        // weighted by one CellArgmin census, then the deterministic
        // Gonzalez weighted recluster down to k=4 (max weight·d²,
        // lowest-index ties). The census fingerprints the final
        // assignment exactly like a08: (cell, n_points, id_sum).
        import graft.functions.VectorExpressions.cellArgmin
        val emb = Tables(s, dir).embeddings
        val centers = graft.ops.Similarity.kmeansParallelInit(
          emb, "vec_id", "embedding", k = 4, rounds = 2, ell = 8)
        emb.select(col("vec_id"),
          cellArgmin(col("embedding").cast("array<double>"), centers).as("cell"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_points"), sum("vec_id").as("id_sum"))
          .orderBy("cell")
      },
      // full closed-form replay: both oversampling rounds (exact-long
      // quantized costs, md5-hash coins), candidate indexing by
      // (round, id), the CellArgmin weight census, all four Gonzalez
      // selections, and the final assignment census
      Some(s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |seed AS (SELECT v FROM (SELECT v,
             |    row_number() OVER (ORDER BY id, v) AS rn FROM e) WHERE rn = 1),
             |cost1 AS (SELECT e.id, e.v,
             |    CAST(floor(${sq64("e.v", "s.v")} * 1000000.0 + 0.5) AS BIGINT) AS cq
             |  FROM e CROSS JOIN seed s),
             |phi1 AS (SELECT sum(cq) AS phi FROM cost1),
             |samp1 AS (SELECT c.id, c.v FROM cost1 c CROSS JOIN phi1 p
             |  WHERE ${OracleSql.md5Fold52("'a26:1:' || CAST(c.id AS VARCHAR)")}
             |      < CAST(floor(least(1.0, 8.0 * c.cq / p.phi)
             |          * 4503599627370496.0) AS BIGINT)),
             |cand2 AS (SELECT 0 AS idx, v FROM seed
             |  UNION ALL SELECT CAST(row_number() OVER (ORDER BY id) AS INT), v
             |    FROM samp1),
             |cost2 AS (SELECT id, v,
             |    CAST(floor(min(d) * 1000000.0 + 0.5) AS BIGINT) AS cq FROM
             |    (SELECT e.id, e.v, ${sq64("e.v", "c.v")} AS d
             |     FROM e CROSS JOIN cand2 c)
             |  GROUP BY id, v),
             |phi2 AS (SELECT sum(cq) AS phi FROM cost2),
             |samp2 AS (SELECT c.id, c.v FROM cost2 c CROSS JOIN phi2 p
             |  WHERE ${OracleSql.md5Fold52("'a26:2:' || CAST(c.id AS VARCHAR)")}
             |      < CAST(floor(least(1.0, 8.0 * c.cq / p.phi)
             |          * 4503599627370496.0) AS BIGINT)),
             |n2 AS (SELECT count(*) AS n FROM cand2),
             |cand AS (SELECT idx, v FROM cand2
             |  UNION ALL SELECT CAST(n2.n - 1 + row_number() OVER (ORDER BY id) AS INT), v
             |    FROM samp2 CROSS JOIN n2),
             |wt AS (SELECT c.idx, count(a.id) AS w FROM cand c LEFT JOIN (
             |    SELECT id, idx FROM (SELECT e.id, c.idx,
             |        row_number() OVER (PARTITION BY e.id
             |          ORDER BY ${sq64("e.v", "c.v")}, c.idx) AS rn
             |      FROM e CROSS JOIN cand c) WHERE rn = 1) a USING (idx)
             |  GROUP BY c.idx),
             |cd AS (SELECT a.idx AS ia, b.idx AS ib, ${sq64("a.v", "b.v")} AS d
             |  FROM cand a CROSS JOIN cand b),
             |g1 AS (SELECT idx FROM wt ORDER BY w DESC, idx LIMIT 1),
             |g2 AS (SELECT w.idx FROM wt w JOIN cd ON cd.ia = w.idx
             |  JOIN g1 ON cd.ib = g1.idx WHERE w.idx <> g1.idx
             |  ORDER BY CAST(floor(w.w * cd.d * 1000000.0 + 0.5) AS BIGINT) DESC,
             |    w.idx LIMIT 1),
             |ch2 AS (SELECT idx FROM g1 UNION ALL SELECT idx FROM g2),
             |g3 AS (SELECT idx FROM (
             |    SELECT w.idx, CAST(floor(w.w * min(cd.d) * 1000000.0 + 0.5) AS BIGINT) AS s
             |    FROM wt w JOIN cd ON cd.ia = w.idx
             |    WHERE cd.ib IN (SELECT idx FROM ch2)
             |      AND w.idx NOT IN (SELECT idx FROM ch2)
             |    GROUP BY w.idx, w.w)
             |  ORDER BY s DESC, idx LIMIT 1),
             |ch3 AS (SELECT idx FROM ch2 UNION ALL SELECT idx FROM g3),
             |g4 AS (SELECT idx FROM (
             |    SELECT w.idx, CAST(floor(w.w * min(cd.d) * 1000000.0 + 0.5) AS BIGINT) AS s
             |    FROM wt w JOIN cd ON cd.ia = w.idx
             |    WHERE cd.ib IN (SELECT idx FROM ch3)
             |      AND w.idx NOT IN (SELECT idx FROM ch3)
             |    GROUP BY w.idx, w.w)
             |  ORDER BY s DESC, idx LIMIT 1),
             |chosen AS (SELECT 0 AS cell, idx FROM g1
             |  UNION ALL SELECT 1, idx FROM g2
             |  UNION ALL SELECT 2, idx FROM g3
             |  UNION ALL SELECT 3, idx FROM g4),
             |ctr AS (SELECT ch.cell, c.v FROM chosen ch JOIN cand c USING (idx)),
             |assign AS (SELECT id, cell FROM (
             |    SELECT e.id, t.cell,
             |      row_number() OVER (PARTITION BY e.id
             |        ORDER BY ${sq64("e.v", "t.v")}, t.cell) AS rn
             |    FROM e CROSS JOIN ctr t) WHERE rn = 1)
             |SELECT cell, CAST(count(*) AS BIGINT) AS n_points,
             |  CAST(sum(id) AS BIGINT) AS id_sum
             |FROM assign GROUP BY cell ORDER BY cell""".stripMargin)),

    Q(
      "a27_knn_ivf_sq8",
      (s, dir) => {
        // IVF-SQ8 under the FULL oracle (Similarity.knnIvfSq8): a04's
        // hash-checked trained quantizer supplies the cells, the
        // residual int8 encode/decode are single native scans, and ADC
        // ranking runs on exact reconstructions — quantizer TRAINING,
        // assignment, residual quantization, decode, probing, ranking
        // all replay in DuckDB. The compression ladder is now
        // complete: flat int8 (a09) / IVF-SQ8 (here) / IVF-PQ (a15) /
        // binary (a23), each rung hash-checked end to end.
        val e = Tables(s, dir).embeddings
        val corpus = e.filter(col("vec_id") >= 10)
        val centers = graft.ops.Similarity.ivfQuantizerReplayable(
          corpus, "vec_id", "embedding", clusters = 16, iters = 2)
        graft.ops.Similarity.knnIvfSq8(
          e.filter(col("vec_id") < 10), corpus,
          "vec_id", "embedding", k = 5, centers, nprobe = 6)
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (SELECT vec_id, v FROM (
             |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
             |    FROM e WHERE vec_id >= 10) WHERE rn <= 4096),
             |c0 AS (SELECT rn - 1 AS cell, v AS ctr
             |       FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM s)
             |       WHERE rn <= 16),
             |a1 AS (SELECT vec_id, v, cell FROM (
             |    SELECT s.vec_id, s.v, c.cell,
             |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (s.v[i+1]-c.ctr[i+1])*(s.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM s CROSS JOIN c0 c) WHERE rn = 1),
             |c1 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i FROM a1)
             |    GROUP BY cell, i) GROUP BY cell),
             |c1f AS (SELECT c0.cell, coalesce(c1.ctr, c0.ctr) AS ctr
             |        FROM c0 LEFT JOIN c1 USING (cell)),
             |a2 AS (SELECT vec_id, v, cell FROM (
             |    SELECT s.vec_id, s.v, c.cell,
             |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (s.v[i+1]-c.ctr[i+1])*(s.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM s CROSS JOIN c1f c) WHERE rn = 1),
             |c2 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i FROM a2)
             |    GROUP BY cell, i) GROUP BY cell),
             |c2f AS (SELECT c1f.cell, coalesce(c2.ctr, c1f.ctr) AS ctr
             |        FROM c1f LEFT JOIN c2 USING (cell)),
             |assign AS (SELECT neighbor_id, v, cell FROM (
             |    SELECT c.vec_id AS neighbor_id, c.v, t.cell,
             |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (c.v[i+1]-t.ctr[i+1])*(c.v[i+1]-t.ctr[i+1]))), t.cell) AS rn
             |    FROM (SELECT * FROM e WHERE vec_id >= 10) c CROSS JOIN c2f t)
             |  WHERE rn = 1),
             |res AS (SELECT a.neighbor_id, a.cell, t.ctr,
             |    list_transform(list_zip(a.v, t.ctr), x -> x[1] - x[2]) AS r
             |  FROM assign a JOIN c2f t USING (cell)),
             |mxr AS (SELECT neighbor_id, cell, ctr, r,
             |    list_max(list_transform(r, x -> abs(x))) AS mx FROM res),
             |codes AS (SELECT neighbor_id, cell, ctr, mx,
             |    CASE WHEN mx = 0 THEN list_transform(r, x -> 0.0)
             |         ELSE list_transform(r, x -> floor(x * (127.0 / mx) + 0.5)) END AS q
             |  FROM mxr),
             |dec AS (SELECT neighbor_id, cell,
             |    list_transform(list_zip(ctr, q), x -> x[1] + x[2] * (mx / 127.0)) AS vhat
             |  FROM codes),
             |probes AS (SELECT query_id, qv, cell FROM (
             |    SELECT q.vec_id AS query_id, q.v AS qv, t.cell,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (q.v[i+1]-t.ctr[i+1])*(q.v[i+1]-t.ctr[i+1]))), t.cell) AS rn
             |    FROM (SELECT * FROM e WHERE vec_id < 10) q CROSS JOIN c2f t)
             |  WHERE rn <= 6),
             |hits AS (SELECT p.query_id, d.neighbor_id,
             |    floor(list_sum(list_transform(list_zip(p.qv, d.vhat),
             |      x -> (x[1] - x[2]) * (x[1] - x[2]))) * 1e6 + 0.5) / 1e6 AS adist
             |  FROM probes p JOIN dec d ON p.cell = d.cell)
             |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, adist
             |FROM (SELECT query_id, neighbor_id, adist,
             |        row_number() OVER (PARTITION BY query_id
             |          ORDER BY adist, neighbor_id) AS rn
             |      FROM hits)
             |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q(
      "a28_ivf_occupancy",
      (s, dir) => {
        // IVF cell-OCCUPANCY audit — the index-maintenance pass every
        // serving deployment schedules (FAISS's imbalance_factor
        // check): per coarse cell, how many vectors live there and
        // whether the cell needs a SPLIT (> 2× the mean — a hot cell
        // makes every probe touching it scan double) or a MERGE (< ½
        // mean, empty cells included via the 16-row spine — dead
        // cells waste nprobe budget). The l12/l05 compaction shape
        // applied to the a04 quantizer: one native-assignment census
        // (cells-sized result), integer thresholds (n·16 vs 2·total),
        // the rebalance DECISION table a re-train consumes. At 100 TB
        // the census rides the existing assignment pass — zero extra
        // corpus scans.
        val e = Tables(s, dir).embeddings
        val corpus = e.filter(col("vec_id") >= 10)
        val centers = graft.ops.Similarity.ivfQuantizerReplayable(
          corpus, "vec_id", "embedding", clusters = 16, iters = 2)
        val cells = corpus.select(
          graft.functions.VectorExpressions.cellArgmin(
            col("embedding").cast("array<double>"), centers).as("cell"))
          .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        val spine = s.range(16).select(col("id").cast("int").as("cell"))
        val tot = cells.agg(sum("n_vecs").as("total"))
        spine.join(cells, Seq("cell"), "left")
          .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
          .crossJoin(broadcast(tot))
          .select(col("cell"), col("n_vecs"),
            when(col("n_vecs") * 16 > col("total") * 2, "split")
              .when(col("n_vecs") * 32 < col("total"), "merge")
              .otherwise("ok").as("action"))
          .orderBy("cell")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (SELECT vec_id, v FROM (
             |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
             |    FROM e WHERE vec_id >= 10) WHERE rn <= 4096),
             |c0 AS (SELECT rn - 1 AS cell, v AS ctr
             |       FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM s)
             |       WHERE rn <= 16),
             |a1 AS (SELECT vec_id, v, cell FROM (
             |    SELECT s.vec_id, s.v, c.cell,
             |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (s.v[i+1]-c.ctr[i+1])*(s.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM s CROSS JOIN c0 c) WHERE rn = 1),
             |c1 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i FROM a1)
             |    GROUP BY cell, i) GROUP BY cell),
             |c1f AS (SELECT c0.cell, coalesce(c1.ctr, c0.ctr) AS ctr
             |        FROM c0 LEFT JOIN c1 USING (cell)),
             |a2 AS (SELECT vec_id, v, cell FROM (
             |    SELECT s.vec_id, s.v, c.cell,
             |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (s.v[i+1]-c.ctr[i+1])*(s.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
             |    FROM s CROSS JOIN c1f c) WHERE rn = 1),
             |c2 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i FROM a2)
             |    GROUP BY cell, i) GROUP BY cell),
             |c2f AS (SELECT c1f.cell, coalesce(c2.ctr, c1f.ctr) AS ctr
             |        FROM c1f LEFT JOIN c2 USING (cell)),
             |assign AS (SELECT neighbor_id, cell FROM (
             |    SELECT c.vec_id AS neighbor_id, t.cell,
             |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (c.v[i+1]-t.ctr[i+1])*(c.v[i+1]-t.ctr[i+1]))), t.cell) AS rn
             |    FROM (SELECT * FROM e WHERE vec_id >= 10) c CROSS JOIN c2f t)
             |  WHERE rn = 1),
             |census AS (SELECT cell, count(*) AS n_vecs FROM assign GROUP BY 1),
             |tot AS (SELECT sum(n_vecs) AS total FROM census)
             |SELECT CAST(sp.cell AS INT) AS cell,
             |  CAST(coalesce(census.n_vecs, 0) AS BIGINT) AS n_vecs,
             |  CASE WHEN coalesce(census.n_vecs, 0) * 16 > tot.total * 2 THEN 'split'
             |       WHEN coalesce(census.n_vecs, 0) * 32 < tot.total THEN 'merge'
             |       ELSE 'ok' END AS action
             |FROM (SELECT unnest(range(16)) AS cell) sp
             |LEFT JOIN census ON census.cell = sp.cell CROSS JOIN tot
             |ORDER BY sp.cell""".stripMargin)),

    Q(
      "a29_mmr_rerank",
      (s, dir) => {
        // MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein
        // 1998) — the diversity-aware FINAL stage the ANN ladder
        // lacked: a01's top-m pool per query, then k greedy picks
        // maximizing λ·rel − (1−λ)·max-sim-to-picked — the rule that
        // keeps a RAG context window from filling with near-duplicate
        // passages. λ = 0.7 in tenths, cosines micro at birth, every
        // score an exact integer, ties to the lower id — the whole
        // greedy trajectory hash-checks. All post-candidate frames
        // are queries×m(²)-sized however large the corpus.
        val e = Tables(s, dir).embeddings
        graft.ops.Similarity.mmrRerank(
            e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
            "vec_id", "embedding", m = 20, k = 5, lambdaTenths = 7)
          .orderBy("query_id", "pos")
      },
      Some {
        val cos = (a: String, b: String) =>
          s"""list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))
             |      / (sqrt(list_sum(list_transform($a, x -> x * x)))
             |         * sqrt(list_sum(list_transform($b, x -> x * x))))""".stripMargin
        val stages = (2 to 5).map { j =>
          s"""ms$j AS (SELECT s.qid, s.nid_a AS nid, max(s.s) AS ms
             |  FROM sims s JOIN all${j - 1} t ON s.qid = t.qid AND s.nid_b = t.nid
             |  GROUP BY 1, 2),
             |sel$j AS (SELECT qid, nid, CAST($j AS BIGINT) AS pos, score FROM (
             |  SELECT c.qid, c.nid, c.rel * 7 - m.ms * 3 AS score,
             |    row_number() OVER (PARTITION BY c.qid
             |      ORDER BY c.rel * 7 - m.ms * 3 DESC, c.nid) AS rn
             |  FROM cand c JOIN ms$j m ON m.qid = c.qid AND m.nid = c.nid
             |  WHERE NOT EXISTS (SELECT 1 FROM all${j - 1} t
             |    WHERE t.qid = c.qid AND t.nid = c.nid)) WHERE rn = 1),
             |all$j AS (SELECT * FROM all${j - 1} UNION ALL SELECT * FROM sel$j)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           |           FROM embeddings WHERE vec_id < 10),
           |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
           |      FROM embeddings WHERE vec_id >= 10),
           |cand AS (SELECT qid, nid,
           |    CAST(floor(cos * 1e6 + 0.5) AS BIGINT) AS rel
           |  FROM (SELECT qid, nid, cos,
           |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
           |    FROM (SELECT qid, nid, ${cos("qv", "cv")} AS cos FROM q, c))
           |  WHERE rn <= 20),
           |sims AS (SELECT a.qid, a.nid AS nid_a, b.nid AS nid_b,
           |    CAST(floor(${cos("a.cv", "b.cv")} * 1e6 + 0.5) AS BIGINT) AS s
           |  FROM (SELECT cand.qid, cand.nid, c.cv FROM cand JOIN c USING (nid)) a
           |  JOIN (SELECT cand.qid, cand.nid, c.cv FROM cand JOIN c USING (nid)) b
           |    ON a.qid = b.qid AND a.nid <> b.nid),
           |all1 AS (SELECT qid, nid, CAST(1 AS BIGINT) AS pos, score FROM (
           |  SELECT qid, nid, rel * 7 AS score,
           |    row_number() OVER (PARTITION BY qid ORDER BY rel * 7 DESC, nid) AS rn
           |  FROM cand) WHERE rn = 1),
           |$stages
           |SELECT qid AS query_id, pos, nid AS neighbor_id,
           |  CAST(score AS BIGINT) AS score
           |FROM all5 ORDER BY query_id, pos""".stripMargin
      }),

    Q(
      "a30_cluster_ari",
      (s, dir) => {
        // ADJUSTED RAND INDEX between the ladder's two quantizers
        // (Hubert & Arabie 1985 — the sklearn-standard clustering-
        // agreement statistic): a08's full-corpus k-means (k = 4) vs
        // a04's sampled IVF quantizer (k = 16) over the SAME corpus
        // slice — the audit that tells you whether the coarse ANN
        // cells respect the semantic clustering (chance-corrected:
        // ARI ≈ 0 means the index's routing is unrelated to the
        // clusters; near-uniform sphere embeddings land it low, real
        // clustered corpora high). The pair census is EXACT INTEGER
        // (e33's discipline): contingency counts, the three C(·,2)
        // sums, and the one chance-corrected division in 128-bit
        // (BigInt here ≡ HUGEINT in the oracle — cn2·sij at corpus
        // scale needs ~2^70). Distributed shape: two broadcast-center
        // assignment maps + one (a, b) aggregate; the only collect is
        // the contingency table, ≤ k_a·k_b rows at ANY corpus size.
        import graft.functions.VectorExpressions.cellArgmin
        val corpus = Tables(s, dir).embeddings.filter(col("vec_id") >= 10)
        val cA = graft.ops.Similarity.kmeansFitDistributed(
          corpus, "vec_id", "embedding", k = 4, iters = 2)
        val cB = graft.ops.Similarity.ivfQuantizerReplayable(
          corpus, "vec_id", "embedding", clusters = 16, iters = 2)
        val cont = corpus.select(
            cellArgmin(col("embedding").cast("array<double>"), cA).as("a_cell"),
            cellArgmin(col("embedding").cast("array<double>"), cB).as("b_cell"))
          .groupBy("a_cell", "b_cell").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        val (sij, sa, sb, cn2, ari) =
          graft.ops.Similarity.ariMicro(cont.toSeq)
        import s.implicits._
        cont.toSeq.sortBy(c => (c._1, c._2)).map { case (a, b, n) =>
          (a, b, n, sij.toLong, sa.toLong, sb.toLong, cn2.toLong, ari)
        }.toDF("a_cell", "b_cell", "n", "sij", "sa", "sb", "cn2",
          "ari_micro").orderBy("a_cell", "b_cell")
      },
      Some {
        // one Lloyd-2 chain generator serves both quantizers: init =
        // first `k` of `initSrc` by id, two assign/quantized-mean
        // rounds over `assignSrc`, final assignment `${p}af`
        def lloyd2(p: String, initSrc: String, assignSrc: String,
            k: Int): String = {
          def assign(out: String, ctrs: String) =
            s"""$out AS (SELECT vec_id, v, cell FROM (
               |    SELECT e.vec_id, e.v, c.cell,
               |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
               |        list_sum(list_transform(range(64),
               |          i -> (e.v[i+1]-c.ctr[i+1])*(e.v[i+1]-c.ctr[i+1]))), c.cell) AS rn
               |    FROM $assignSrc e CROSS JOIN $ctrs c) WHERE rn = 1)""".stripMargin
          s"""${p}c0 AS (SELECT rn - 1 AS cell, v AS ctr
             |  FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn
             |        FROM $initSrc) WHERE rn <= $k),
             |${assign(s"${p}a1", s"${p}c0")},
             |${p}c1 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i
             |          FROM ${p}a1) GROUP BY cell, i) GROUP BY cell),
             |${p}c1f AS (SELECT ${p}c0.cell, coalesce(${p}c1.ctr, ${p}c0.ctr) AS ctr
             |  FROM ${p}c0 LEFT JOIN ${p}c1 USING (cell)),
             |${assign(s"${p}a2", s"${p}c1f")},
             |${p}c2 AS (SELECT cell, list(q ORDER BY i) AS ctr FROM (
             |    SELECT cell, i, floor(avg(x) * 1e6 + 0.5) / 1e6 AS q
             |    FROM (SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS i
             |          FROM ${p}a2) GROUP BY cell, i) GROUP BY cell),
             |${p}c2f AS (SELECT ${p}c1f.cell, coalesce(${p}c2.ctr, ${p}c1f.ctr) AS ctr
             |  FROM ${p}c1f LEFT JOIN ${p}c2 USING (cell)),
             |${assign(s"${p}af", s"${p}c2f")}""".stripMargin
        }
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |           FROM embeddings WHERE vec_id >= 10),
           |smp AS (SELECT vec_id, v FROM (
           |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
           |    FROM e) WHERE rn <= 4096),
           |${lloyd2("ka", "e", "e", 4)},
           |${lloyd2("qb", "smp", "e", 16)},
           |cont AS (SELECT a.cell AS a_cell, b.cell AS b_cell,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM kaaf a JOIN qbaf b USING (vec_id) GROUP BY 1, 2),
           |sums AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS sij
           |  FROM cont),
           |ra AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS sa
           |  FROM (SELECT sum(n) AS m FROM cont GROUP BY a_cell)),
           |rb AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS sb
           |  FROM (SELECT sum(n) AS m FROM cont GROUP BY b_cell)),
           |nt AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cont),
           |base AS (SELECT sums.sij, ra.sa, rb.sb,
           |    CAST(nt.nn * (nt.nn - 1) // 2 AS BIGINT) AS cn2
           |  FROM sums CROSS JOIN ra CROSS JOIN rb CROSS JOIN nt),
           |fin AS (SELECT sij, sa, sb, cn2,
           |    CAST(CASE WHEN CAST(cn2 AS HUGEINT) * (sa + sb)
           |        - 2 * CAST(sa AS HUGEINT) * sb = 0 THEN 0
           |      ELSE 2000000 * (CAST(cn2 AS HUGEINT) * sij
           |          - CAST(sa AS HUGEINT) * sb)
           |        // (CAST(cn2 AS HUGEINT) * (sa + sb)
           |          - 2 * CAST(sa AS HUGEINT) * sb) END AS BIGINT) AS ari_micro
           |  FROM base)
           |SELECT CAST(c.a_cell AS INT) AS a_cell,
           |  CAST(c.b_cell AS INT) AS b_cell, c.n,
           |  f.sij, f.sa, f.sb, f.cn2, f.ari_micro
           |FROM cont c CROSS JOIN fin f ORDER BY 1, 2""".stripMargin
      })
  )
}
