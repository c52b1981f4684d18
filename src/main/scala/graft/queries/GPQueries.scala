package graft.queries

import org.apache.spark.sql.functions._

import graft.gp.{GPClassifier, GPRegressor}
import graft.gp.kernel.Kernels._
import graft.tables.Tables

/**
 * GP pack over the `embeddings` table (64-dim float vectors).
 *
 * gp01–gp03 exercise the full distributed fit+predict path (rows-only —
 * iterative training is not SQL-expressible); gp04/gp05 oracle-check the
 * kernel math itself against closed-form SQL.
 *
 * The table's own `label` column is uncorrelated with the embeddings
 * (measured same-label vs different-label mean cosine: 0.0016 vs
 * 0.0003), so gp01–gp03 regress a deterministic smooth function of the
 * embedding — sin(2·v·w) for a seeded unit vector w — which a working
 * GP must actually learn (quality asserted in GPQueriesSpec).
 */
object GPQueries {

  /** gp06's closed-form projected-process prediction replay — shared
    * with st08, whose streaming transform must match it hash-for-hash. */
  private val gp06OracleSql: String =
    """WITH z AS (SELECT vec_id AS zid, CAST(embedding AS DOUBLE[]) AS zv
      |           FROM embeddings WHERE vec_id < 8),
      |x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xv
      |      FROM embeddings WHERE vec_id >= 8 AND vec_id < 300),
      |k AS (SELECT x.vec_id, z.zid,
      |    exp(-list_sum(list_transform(list_zip(xv, zv),
      |        p -> (p[1] - p[2]) * (p[1] - p[2]))) / 8.0) AS kv
      |  FROM x, z)
      |SELECT vec_id,
      |  floor(sum(kv * ((zid % 5) + 1) / 10.0) * 1e6 + 0.5) / 1e6 AS mean,
      |  floor(sqrt(1.0 - 0.01 * sum(kv * kv)) * 1e6 + 0.5) / 1e6 AS std
      |FROM k GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Seeded unit weight vector defining the synthetic learnable target. */
  private def weights(dim: Int): Seq[Double] = {
    val rnd = new scala.util.Random(97)
    val w = Array.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(w.map(x => x * x).sum)
    w.map(_ / n).toSeq
  }

  /** embeddings with features + target = sin(2·v·w). */
  private def withTarget(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val proj = graft.ops.Similarity.dot(col("embedding"), typedlit(weights(64)))
    Tables(s, dir).embeddings
      .select(col("vec_id"), col("embedding").as("features"),
        sin(proj * 2.0).as("label"))
  }

  val queries: Seq[Q] = Seq(
    Q(
      "gp01_regression_fit_predict",
      (s, dir) => {
        val e = withTarget(s, dir)
        val model = new GPRegressor()
          .setKernel(() => 1.0 * rbf(1.0))
          .setNoise(1e-3)
          .setExpertSize(100)
          .setInducingSize(64)
          .setMaxIter(15)
          .setSeed(42L)
          .fit(e)
        model.transform(e)
          .select(col("vec_id"), col("label"), col("prediction"))
          .orderBy("vec_id")
      }),

    Q(
      "gp02_classification_fit_predict",
      (s, dir) => {
        val e = withTarget(s, dir)
          .withColumn("label", (col("label") > 0).cast("double"))
        val model = new GPClassifier()
          .setKernel(() => 1.0 * rbf(1.0))
          .setNoise(1e-3)
          .setExpertSize(100)
          .setInducingSize(64)
          .setMaxIter(10)
          .setSeed(42L)
          .fit(e)
        model.transform(e)
          .select(col("vec_id"), col("label"), col("prediction"), col("probability"))
          .orderBy("vec_id")
      }),

    Q(
      "gp03_predictive_variance",
      (s, dir) => {
        val e = withTarget(s, dir)
        val model = new GPRegressor()
          .setKernel(() => 1.0 * rbf(1.0))
          .setNoise(1e-3)
          .setExpertSize(100)
          .setInducingSize(48)
          .setInducingStrategy("kmeans")
          .setMaxIter(10)
          .setSeed(42L)
          .setPredStdCol("pred_std")
          .fit(e)
        model.transform(e)
          .select(col("vec_id"), col("prediction"), col("pred_std"))
          .orderBy("vec_id")
      }),

    Q(
      "gp04_rbf_kernel_matrix",
      (s, dir) => {
        val kern = rbf(1.5)
        val kUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
          kern.cross(Array(a.toArray), Array(b.toArray))(0, 0)
        }
        val e = Tables(s, dir).embeddings.filter(col("vec_id") < 15)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        a.crossJoin(b).filter(col("id_a") <= col("id_b"))
          .select(col("id_a"), col("id_b"),
            fround(kUdf(col("va"), col("vb")), 6).as("k"))
          .orderBy("id_a", "id_b")
      },
      // k(a,b) = exp(-‖a-b‖² / (2·1.5²))
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id < 15)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  floor(exp(-list_sum(list_transform(list_zip(a.v, b.v),
             |      x -> (x[1] - x[2]) * (x[1] - x[2]))) / 4.5) * 1e6 + 0.5) / 1e6 AS k
             |FROM e a JOIN e b ON a.vec_id <= b.vec_id
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "gp05_ard_kernel_matrix",
      (s, dir) => {
        val kern = ardRbf(64, 2.0)
        val kUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
          kern.cross(Array(a.toArray), Array(b.toArray))(0, 0)
        }
        val e = Tables(s, dir).embeddings.filter(col("vec_id") < 15)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        a.crossJoin(b).filter(col("id_a") <= col("id_b"))
          .select(col("id_a"), col("id_b"),
            fround(kUdf(col("va"), col("vb")), 6).as("k"))
          .orderBy("id_a", "id_b")
      },
      // ARD with all lengthscales 2: k = exp(-½ ‖a-b‖² / 4)
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id < 15)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  floor(exp(-0.5 * list_sum(list_transform(list_zip(a.v, b.v),
             |      x -> (x[1] - x[2]) * (x[1] - x[2]))) / 4.0) * 1e6 + 0.5) / 1e6 AS k
             |FROM e a JOIN e b ON a.vec_id <= b.vec_id
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "gp08_matern_kernel_matrix",
      (s, dir) => {
        // Matérn-5/2 kernel matrix through the real Kernel.cross path
        // (beyond-reference kernel — spark-gp ships RBF/ARD/Eye only):
        // closed-form, so DuckDB replays the identical
        // (1+s+s²/3)·exp(−s) arithmetic with s = √5·r/ℓ.
        val kern = matern52(1.5)
        val kUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
          kern.cross(Array(a.toArray), Array(b.toArray))(0, 0)
        }
        val e = Tables(s, dir).embeddings.filter(col("vec_id") < 15)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        a.crossJoin(b).filter(col("id_a") <= col("id_b"))
          .select(col("id_a"), col("id_b"),
            fround(kUdf(col("va"), col("vb")), 6).as("k"))
          .orderBy("id_a", "id_b")
      },
      // s = √5·‖a-b‖/1.5; k = (1 + s + s²/3)·exp(-s)
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id < 15),
             |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |        sqrt(5) * sqrt(list_sum(list_transform(list_zip(a.v, b.v),
             |          x -> (x[1] - x[2]) * (x[1] - x[2])))) / 1.5 AS s
             |      FROM e a JOIN e b ON a.vec_id <= b.vec_id)
             |SELECT id_a, id_b,
             |  floor((1 + s + s * s / 3) * exp(-s) * 1e6 + 0.5) / 1e6 AS k
             |FROM p ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "gp09_rq_kernel_matrix",
      (s, dir) => {
        // Rational-quadratic kernel matrix (ℓ=1.5, α=0.8) through the
        // real Kernel.cross path — closed-form u^−α, DuckDB replays the
        // identical pow/arithmetic.
        val kern = rationalQuadratic(1.5, 0.8)
        val kUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
          kern.cross(Array(a.toArray), Array(b.toArray))(0, 0)
        }
        val e = Tables(s, dir).embeddings.filter(col("vec_id") < 15)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        a.crossJoin(b).filter(col("id_a") <= col("id_b"))
          .select(col("id_a"), col("id_b"),
            fround(kUdf(col("va"), col("vb")), 6).as("k"))
          .orderBy("id_a", "id_b")
      },
      // u = 1 + d²/(2·0.8·1.5²); k = u^-0.8
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id < 15),
             |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |        1 + list_sum(list_transform(list_zip(a.v, b.v),
             |          x -> (x[1] - x[2]) * (x[1] - x[2]))) / (2 * 0.8 * 1.5 * 1.5) AS u
             |      FROM e a JOIN e b ON a.vec_id <= b.vec_id)
             |SELECT id_a, id_b,
             |  floor(pow(u, -0.8) * 1e6 + 0.5) / 1e6 AS k
             |FROM p ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "gp10_dot_kernel_matrix",
      (s, dir) => {
        // Dot-product (linear) kernel matrix (σ₀=0.5) through the real
        // Kernel.cross path — exact arithmetic end to end (no
        // transcendentals), so the oracle is bit-trivial.
        val kern = dotProduct(0.5)
        val kUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
          kern.cross(Array(a.toArray), Array(b.toArray))(0, 0)
        }
        val e = Tables(s, dir).embeddings.filter(col("vec_id") < 15)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        a.crossJoin(b).filter(col("id_a") <= col("id_b"))
          .select(col("id_a"), col("id_b"),
            fround(kUdf(col("va"), col("vb")), 6).as("k"))
          .orderBy("id_a", "id_b")
      },
      // k = 0.25 + a·b
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id < 15)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  floor((0.25 + list_sum(list_transform(list_zip(a.v, b.v),
             |      x -> x[1] * x[2]))) * 1e6 + 0.5) / 1e6 AS k
             |FROM e a JOIN e b ON a.vec_id <= b.vec_id
             |ORDER BY id_a, id_b""".stripMargin)),

    Q(
      "gp06_projected_predict",
      (s, dir) => {
        // The PREDICTION path (mean = k_xZ·w, var = k_xx + k_xZ·M·k_Zx)
        // through the real transform machinery, with a deterministic
        // hand-built model so DuckDB can recompute the closed forms —
        // only the iterative FITS (gp01–03) remain rows-only.
        import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
        val e = Tables(s, dir).embeddings
        val z = e.filter(col("vec_id") < 8).orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val weights = BDV.tabulate(z.length)(j => ((j % 5) + 1) / 10.0)
        val covAdjust = BDM.eye[Double](z.length) * -0.01
        val model = graft.gp.GPModelIO.fromProjected(
          graft.gp.ProjectedGP(z, weights, covAdjust, 1.0 * rbf(2.0)))
          .setFeaturesCol("features").setPredStdCol("std")
        model.transform(
          e.filter(col("vec_id") >= 8 && col("vec_id") < 300)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("features")))
          .select(col("vec_id"),
            fround(col("prediction"), 6).as("mean"),
            fround(col("std"), 6).as("std"))
          .orderBy("vec_id")
      },
      // k_j = exp(-‖x−z_j‖²/(2·2²)); mean = Σ k_j w_j, w_j = ((j%5)+1)/10;
      // var = 1 − 0.01·Σ k_j² (covAdjust = −0.01·I, RBF self = 1)
      Some(gp06OracleSql)),

    Q(
      "gp11_hyperfit_gd",
      (s, dir) => {
        // GP TRAINING math under the oracle (a04's unrolled-replay
        // trick): 2 fixed-step gradient-descent iterations on the exact
        // summed per-expert NLL, through the production
        // regressionObjective → treeAggregate path, with the aggregated
        // NLL/gradient quantized at 1e-6 before each update so DuckDB
        // replays bit-identical hypers. Experts are deterministic PAIRS
        // (vec_id 2i, 2i+1) so each per-expert Cholesky/solve has a
        // closed 2×2 form the oracle expresses directly; the kernel is
        // the reference surface (trainable amplitude × RBF + fixed
        // white noise), so the chain kernel-grad → NLL-grad → update is
        // the real BCM training math, not a test double. The
        // groupByKey is 200 pairs — gate-sized, not a data path.
        import graft.gp.GPCore
        import graft.gp.kernel.{ExpertData, Kernels}
        val uw = (0 until 64).map(j => (((j * 37 + 11) % 19) - 9) / 10.0)
        val withY = Tables(s, dir).embeddings.filter(col("vec_id") < 400)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .select(col("vec_id"), col("v"),
            sin(graft.ops.Similarity.dot(col("v"), typedlit(uw)) * 2.0).as("y"))
        val experts = withY.rdd
          .map(r => (r.getLong(0) / 2,
            (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))))
          .groupByKey()
          .flatMap { case (_, it) =>
            val p = it.toList.sortBy(_._1)
            if (p.size == 2)
              Some(new ExpertData(p.map(_._2).toArray, p.map(_._3).toArray))
            else None
          }
        val kern = { import Kernels._; 1.0 * rbf(1.0) + white(0.01) }
        val traj = GPCore.gdHyperFit(
          experts, kern, GPCore.regressionObjective, steps = 2, lr = 1e-3)
        import s.implicits._
        traj.map { case (st, h, nll) => (st, h(0), h(1), nll) }
          .toDF("step", "amplitude", "lengthscale", "nll")
          .select(col("step").cast("int").as("step"),
            fround(col("amplitude"), 6).as("amplitude"),
            fround(col("lengthscale"), 6).as("lengthscale"),
            fround(col("nll"), 6).as("nll"))
          .orderBy("step")
      },
      // Per expert {a=2i, b=2i+1}: K = [[c+ν, c·ρ],[c·ρ, c+ν]] with
      // ρ = exp(−d²/2ℓ²), ν = 0.01. Closed 2×2 forms: α = K⁻¹y,
      // NLL = ½yᵀα + ½ln det; A = ααᵀ−K⁻¹;
      // ∂NLL/∂c = −½(A₁₁+A₂₂+2A₁₂ρ), ∂NLL/∂ℓ = −A₁₂·c·ρ·d²/ℓ³.
      // Each step: sums quantized to the 1e-6 grid, θ′ = q(θ − 0.001·g)
      // box-projected at c ≥ 0, ℓ ≥ 1e-6 — exactly gdHyperFit's math.
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id < 400),
             |ys AS (SELECT vec_id, v,
             |    sin(list_sum(list_transform(range(64),
             |      j -> v[j+1] * ((((j*37+11)%19)-9)/10.0))) * 2) AS y
             |  FROM e),
             |p AS (SELECT a.vec_id // 2 AS eid,
             |    list_sum(list_transform(list_zip(a.v, b.v),
             |      q -> (q[1]-q[2])*(q[1]-q[2]))) AS d2,
             |    a.y AS y1, b.y AS y2
             |  FROM ys a JOIN ys b ON b.vec_id = a.vec_id + 1
             |  WHERE a.vec_id % 2 = 0),
             |g0 AS (SELECT floor(sum(nll_e)*1e6+0.5)/1e6 AS nll,
             |    floor(sum(gc_e)*1e6+0.5)/1e6 AS gc,
             |    floor(sum(gl_e)*1e6+0.5)/1e6 AS gl
             |  FROM (SELECT
             |      0.5*(y1*a1 + y2*a2) + 0.5*ln(det) AS nll_e,
             |      -0.5*((a1*a1 - k11/det) + (a2*a2 - k11/det)
             |        + 2*(a1*a2 + k12/det)*rho) AS gc_e,
             |      -((a1*a2 + k12/det) * c * rho * d2) / (l*l*l) AS gl_e
             |    FROM (SELECT c, l, rho, k11, k12, det, y1, y2, d2,
             |        (k11*y1 - k12*y2)/det AS a1, (k11*y2 - k12*y1)/det AS a2
             |      FROM (SELECT 1.0 AS c, 1.0 AS l, y1, y2, d2,
             |          exp(-d2/(2*1.0*1.0)) AS rho,
             |          1.0 + 0.01 AS k11, 1.0*exp(-d2/(2*1.0*1.0)) AS k12,
             |          (1.0+0.01)*(1.0+0.01)
             |            - (1.0*exp(-d2/(2*1.0*1.0)))*(1.0*exp(-d2/(2*1.0*1.0))) AS det
             |        FROM p)))),
             |h1 AS (SELECT
             |    floor(greatest(0.0, 1.0 - 0.001*gc)*1e6+0.5)/1e6 AS c,
             |    floor(greatest(0.000001, 1.0 - 0.001*gl)*1e6+0.5)/1e6 AS l,
             |    nll AS nll0 FROM g0),
             |g1 AS (SELECT floor(sum(nll_e)*1e6+0.5)/1e6 AS nll,
             |    floor(sum(gc_e)*1e6+0.5)/1e6 AS gc,
             |    floor(sum(gl_e)*1e6+0.5)/1e6 AS gl
             |  FROM (SELECT
             |      0.5*(y1*a1 + y2*a2) + 0.5*ln(det) AS nll_e,
             |      -0.5*((a1*a1 - k11/det) + (a2*a2 - k11/det)
             |        + 2*(a1*a2 + k12/det)*rho) AS gc_e,
             |      -((a1*a2 + k12/det) * c * rho * d2) / (l*l*l) AS gl_e
             |    FROM (SELECT c, l, rho, k11, k12, det, y1, y2, d2,
             |        (k11*y1 - k12*y2)/det AS a1, (k11*y2 - k12*y1)/det AS a2
             |      FROM (SELECT h1.c AS c, h1.l AS l, y1, y2, d2,
             |          exp(-d2/(2*h1.l*h1.l)) AS rho,
             |          h1.c + 0.01 AS k11, h1.c*exp(-d2/(2*h1.l*h1.l)) AS k12,
             |          (h1.c+0.01)*(h1.c+0.01)
             |            - (h1.c*exp(-d2/(2*h1.l*h1.l)))*(h1.c*exp(-d2/(2*h1.l*h1.l))) AS det
             |        FROM p CROSS JOIN h1)))),
             |h2 AS (SELECT
             |    floor(greatest(0.0, h1.c - 0.001*g1.gc)*1e6+0.5)/1e6 AS c,
             |    floor(greatest(0.000001, h1.l - 0.001*g1.gl)*1e6+0.5)/1e6 AS l
             |  FROM h1 CROSS JOIN g1),
             |g2 AS (SELECT floor(sum(nll_e)*1e6+0.5)/1e6 AS nll
             |  FROM (SELECT
             |      0.5*(y1*a1 + y2*a2) + 0.5*ln(det) AS nll_e
             |    FROM (SELECT det, y1, y2,
             |        (k11*y1 - k12*y2)/det AS a1, (k11*y2 - k12*y1)/det AS a2
             |      FROM (SELECT y1, y2,
             |          h2.c + 0.01 AS k11, h2.c*exp(-d2/(2*h2.l*h2.l)) AS k12,
             |          (h2.c+0.01)*(h2.c+0.01)
             |            - (h2.c*exp(-d2/(2*h2.l*h2.l)))*(h2.c*exp(-d2/(2*h2.l*h2.l))) AS det
             |        FROM p CROSS JOIN h2))))
             |SELECT CAST(0 AS INT) AS step, 1.0 AS amplitude, 1.0 AS lengthscale,
             |  (SELECT nll0 FROM h1) AS nll
             |UNION ALL
             |SELECT CAST(1 AS INT), h1.c, h1.l, g1.nll FROM h1 CROSS JOIN g1
             |UNION ALL
             |SELECT CAST(2 AS INT), h2.c, h2.l, g2.nll FROM h2 CROSS JOIN g2
             |ORDER BY step""".stripMargin)),

    Q(
      "gp12_locality_cells",
      (s, dir) => {
        // The expertAssignment=kmeans LOCALITY path under the oracle:
        // a replayable coarse quantizer (first-4096-by-id sample,
        // first-8 init, 2 Lloyd rounds with 1e-6-quantized means —
        // a04's trick) feeds buildExpertsByLocalityWithCenters, which
        // runs the REAL assignment + aggregateByKey + balanced-chunk
        // machinery the kmeans fit path uses. y is set to vec_id so
        // each cell's id-sum fingerprints the exact membership (exact
        // integer sums in doubles); expert chunk sizes replay as pure
        // integer arithmetic. Which row lands in which chunk within a
        // cell is order-dependent by design (any balanced split is
        // valid) — cell-level structure is the deterministic contract.
        import graft.gp.GPCore
        val e = Tables(s, dir).embeddings
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val centers = graft.ops.Similarity.ivfQuantizerReplayable(
          e, "vec_id", "v", clusters = 8, iters = 2)
        val data = e.rdd.map(r =>
          (r.getSeq[Double](1).toArray, r.getLong(0).toDouble))
        val experts = GPCore.buildExpertsByLocalityWithCenters(
          data, expertSize = 50, centers)
        import s.implicits._
        experts.map { case (cell, ex) => (cell, ex.size, ex.y.sum) }
          .toDF("cell", "size", "ids")
          .groupBy("cell")
          .agg(count(lit(1)).cast("long").as("n_experts"),
            sum("size").cast("long").as("n_rows"),
            min("size").cast("int").as("min_size"),
            max("size").cast("int").as("max_size"),
            sum("ids").cast("long").as("sum_ids"))
          .orderBy("cell")
      },
      // Quantizer replay = a04's CTE chain at k=8; then nearest-cell
      // assignment over the full corpus, per-cell membership
      // fingerprint (sum of vec_ids), and the balanced-chunk
      // arithmetic: chunks = ⌈n/50⌉, sizes ∈ {⌊n/chunks⌋, ⌈n/chunks⌉}.
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (SELECT vec_id, v FROM (
             |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
             |    FROM e) WHERE rn <= 4096),
             |c0 AS (SELECT rn - 1 AS cell, v AS ctr
             |       FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM s)
             |       WHERE rn <= 8),
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
             |assign AS (SELECT vec_id, cell FROM (
             |    SELECT x.vec_id, t.cell,
             |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
             |        list_sum(list_transform(range(64),
             |          i -> (x.v[i+1]-t.ctr[i+1])*(x.v[i+1]-t.ctr[i+1]))), t.cell) AS rn
             |    FROM e x CROSS JOIN c2f t) WHERE rn = 1),
             |stats AS (SELECT cell, count(*) AS n, sum(vec_id) AS sum_ids
             |          FROM assign GROUP BY cell),
             |shape AS (SELECT cell, n, sum_ids, (n + 49) // 50 AS chunks FROM stats)
             |SELECT CAST(cell AS INT) AS cell,
             |  CAST(chunks AS BIGINT) AS n_experts,
             |  CAST(n AS BIGINT) AS n_rows,
             |  CAST(n // chunks AS INT) AS min_size,
             |  CAST(n // chunks + CASE WHEN n % chunks > 0 THEN 1 ELSE 0 END AS INT)
             |    AS max_size,
             |  CAST(sum_ids AS BIGINT) AS sum_ids
             |FROM shape ORDER BY cell""".stripMargin)),

    Q(
      "gp07_binary_probability",
      (s, dir) => {
        // The ProbabilisticClassifier TRANSFORM path (raw = (−m, +m),
        // probability = sigmoid link, prediction = argmax) through the
        // real MLlib contract machinery, with the same deterministic
        // hand-built model as gp06 so DuckDB recomputes the sigmoid of
        // the closed-form latent mean.
        import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
        import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
        val e = Tables(s, dir).embeddings
        val z = e.filter(col("vec_id") < 8).orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val weights = BDV.tabulate(z.length)(j => (((j % 5) + 1) / 10.0) - 0.2)
        val covAdjust = BDM.eye[Double](z.length) * -0.01
        val model = graft.gp.GPModelIO.binaryFromProjected(
          graft.gp.ProjectedGP(z, weights, covAdjust, 1.0 * rbf(2.0)))
        model.transform(
          e.filter(col("vec_id") >= 8 && col("vec_id") < 300)
            .select(col("vec_id"),
              array_to_vector(col("embedding").cast("array<double>")).as("features")))
          .select(col("vec_id"),
            fround(element_at(vector_to_array(col("probability")), 2), 6).as("prob"),
            col("prediction").cast("int").as("pred"))
          .orderBy("vec_id")
      },
      // mean = Σ k_j w_j with w_j = ((j%5)+1)/10 − 0.2 (sign-mixed so
      // both classes appear); prob = σ(mean), pred = argmax = mean > 0
      Some("""WITH z AS (SELECT vec_id AS zid, CAST(embedding AS DOUBLE[]) AS zv
             |           FROM embeddings WHERE vec_id < 8),
             |x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xv
             |      FROM embeddings WHERE vec_id >= 8 AND vec_id < 300),
             |k AS (SELECT x.vec_id, z.zid,
             |    exp(-list_sum(list_transform(list_zip(xv, zv),
             |        p -> (p[1] - p[2]) * (p[1] - p[2]))) / 8.0) AS kv
             |  FROM x, z),
             |m AS (SELECT vec_id,
             |    sum(kv * (((zid % 5) + 1) / 10.0 - 0.2)) AS mean
             |  FROM k GROUP BY vec_id)
             |SELECT vec_id,
             |  floor(1.0 / (1.0 + exp(-mean)) * 1e6 + 0.5) / 1e6 AS prob,
             |  CAST(CASE WHEN mean > 0 THEN 1 ELSE 0 END AS INT) AS pred
             |FROM m ORDER BY vec_id""".stripMargin)),

    Q(
      "gp13_integrated_probability",
      (s, dir) => {
        // The Gauss–Hermite INTEGRATED probability path under the
        // oracle (gp07 covers probabilityMode=mean): the real
        // GPClassificationModel transform averages the sigmoid over the
        // latent predictive N(mean, var) with the 32-point Golub–Welsch
        // rule — R&W eq. 3.25 by quadrature, the reference's
        // Integrator.scala capability. The oracle embeds the SAME
        // rule's nodes/weights (GaussHermite.rule) as literals and
        // replays the identical ordered finite mixture; fround(6)
        // absorbs libm exp ulps.
        import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
        val e = Tables(s, dir).embeddings
        val z = e.filter(col("vec_id") < 8).orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val weights = BDV.tabulate(z.length)(j => (((j % 5) + 1) / 10.0) - 0.2)
        val covAdjust = BDM.eye[Double](z.length) * -0.01
        val model = graft.gp.GPModelIO.classificationFromProjected(
          graft.gp.ProjectedGP(z, weights, covAdjust, 1.0 * rbf(2.0)))
          .setFeaturesCol("features").setProbabilityMode("integrated")
        model.transform(
          e.filter(col("vec_id") >= 8 && col("vec_id") < 300)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("features")))
          .select(col("vec_id"),
            fround(col("probability"), 6).as("prob_gh"),
            col("prediction").cast("int").as("pred"))
          .orderBy("vec_id")
      },
      // mean/var closed forms as gp06/gp07; prob = Σᵢ pᵢ·σ(mean +
      // √(2·max(var,0))·xᵢ) over the embedded 32-point rule
      Some {
        val (nodes, probs) = new graft.gp.GaussHermite(32).rule
        val nl = OracleSql.doubleListLiteral(nodes.toIndexedSeq)
        val pl = OracleSql.doubleListLiteral(probs.toIndexedSeq)
        s"""WITH z AS (SELECT vec_id AS zid, CAST(embedding AS DOUBLE[]) AS zv
           |           FROM embeddings WHERE vec_id < 8),
           |x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xv
           |      FROM embeddings WHERE vec_id >= 8 AND vec_id < 300),
           |k AS (SELECT x.vec_id, z.zid,
           |    exp(-list_sum(list_transform(list_zip(xv, zv),
           |        p -> (p[1] - p[2]) * (p[1] - p[2]))) / 8.0) AS kv
           |  FROM x, z),
           |mv AS (SELECT vec_id,
           |    sum(kv * (((zid % 5) + 1) / 10.0 - 0.2)) AS mean,
           |    1.0 - 0.01 * sum(kv * kv) AS vr
           |  FROM k GROUP BY vec_id),
           |gh AS (SELECT vec_id,
           |    list_sum(list_transform(list_zip($nl, $pl),
           |      q -> q[2] * (1.0 / (1.0 + exp(-(mean
           |        + sqrt(2.0 * greatest(vr, 0.0)) * q[1])))))) AS p
           |  FROM mv)
           |SELECT vec_id, floor(p * 1e6 + 0.5) / 1e6 AS prob_gh,
           |  CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS INT) AS pred
           |FROM gh ORDER BY vec_id""".stripMargin
      }),

    Q(
      "st08_stream_gp_scoring",
      (s, dir) => {
        // STREAMING GP scoring under the DuckDB oracle: gp06's fixed
        // projected-process model transforms a MemoryStream of feature
        // rows — the train-offline / score-at-ingest deployment shape.
        // The model is an O(m²) broadcast applied row-locally, so the
        // streaming plan is STATELESS (append mode, no state store,
        // no watermark) and must equal the batch transform — the
        // drained sink hash-matches gp06's own closed-form oracle.
        // collect() is the MemoryStream feeding harness.
        import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, Array[Double])]
        val e = Tables(s, dir).embeddings
        val z = e.filter(col("vec_id") < 8).orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        val weights = BDV.tabulate(z.length)(j => ((j % 5) + 1) / 10.0)
        val covAdjust = BDM.eye[Double](z.length) * -0.01
        val model = graft.gp.GPModelIO.fromProjected(
          graft.gp.ProjectedGP(z, weights, covAdjust, 1.0 * rbf(2.0)))
          .setFeaturesCol("features").setPredStdCol("std")
        val rows = e.filter(col("vec_id") >= 8 && col("vec_id") < 300)
          .orderBy("vec_id")
          .select(col("vec_id"), col("embedding").cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Array[Double])]
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s,
            model.transform(stream.toDS().toDF("vec_id", "features"))
              .select(col("vec_id"),
                fround(col("prediction"), 6).as("mean"),
                fround(col("std"), 6).as("std")),
            "st08_gp")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .orderBy("vec_id")
      },
      Some(gp06OracleSql))
  )
}
