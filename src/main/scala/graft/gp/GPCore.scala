package graft.gp

import breeze.linalg.{cholesky, diag, inv, sum, DenseMatrix => BDM, DenseVector => BDV}
import breeze.numerics.{log, sigmoid}
import breeze.optimize.{DiffFunction, LBFGSB}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import graft.gp.kernel.{ExpertData, Kernel}

/**
 * Distributed Gaussian-Process machinery.
 *
 * Fitting follows the Bayesian Committee Machine (Deisenroth & Ng 2015,
 * as in the reference spark-gp `GaussianProcessCommons.scala:66`): the
 * training set is split into experts of ~`expertSize` points, the
 * marginal-likelihood objective decomposes into a sum over experts, and
 * each L-BFGS-B step is ONE `treeAggregate` pass (depth 2) — linear in n,
 * constant driver memory. Prediction uses the Projected Process
 * Approximation (Rasmussen & Williams 2005, ch. 8.3.4; reference
 * `ProjectedGaussianProcessHelper.scala`): the model is an m-vector and
 * an m×m matrix over an inducing set, independent of n.
 *
 * Deviations from the reference (SURVEY.md §6): experts are contiguous
 * zipWithIndex chunks combined map-side via `aggregateByKey` (no
 * `groupByKey` iterable materialization), and Cholesky-based
 * logdet+solve replaces LU `logDetAndInv`.
 */
object GPCore {

  class NotPositiveDefiniteException(cause: Throwable = null) extends Exception(
    "A matrix that must be positive definite is not; the `noise` " +
      "parameter is probably too small — increase it gradually.", cause)

  // ---------------------------------------------------------------- experts

  /** Chunk rows into experts of `expertSize` and build per-expert state.
    * The shuffle moves each row once, pre-combined map-side. */
  def buildExperts(data: RDD[(Array[Double], Double)], expertSize: Int): RDD[ExpertData] = {
    type Acc = (scala.collection.mutable.ArrayBuffer[Array[Double]],
      scala.collection.mutable.ArrayBuffer[Double])
    def newAcc: Acc = (scala.collection.mutable.ArrayBuffer.empty,
      scala.collection.mutable.ArrayBuffer.empty)
    data.zipWithIndex()
      .map { case ((x, y), i) => (i / expertSize, (x, y)) }
      .aggregateByKey(newAcc)(
        { case ((xs, ys), (x, y)) => xs += x; ys += y; (xs, ys) },
        { case ((xs1, ys1), (xs2, ys2)) => xs1 ++= xs2; ys1 ++= ys2; (xs1, ys1) })
      .map { case (_, (xs, ys)) => new ExpertData(xs.toArray, ys.toArray) }
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /**
   * Locality-aware expert assignment: a coarse k-means quantizer (fit
   * on a bounded sample) routes each row to its nearest cell, and cells
   * are then split into ~`expertSize` chunks. Each expert models one
   * compact region of input space instead of an arbitrary slice — the
   * regime where the BCM's product-of-experts assumption is tightest
   * (Deisenroth & Ng 2015 §3 recommend exactly this "disjoint local
   * experts" partitioning).
   *
   * Scale posture: the quantizer is model-sized (≤ `maxCells`
   * centroids, broadcast with the task closure); assignment is one
   * narrow map; the shuffle is the same single `aggregateByKey` as
   * [[buildExperts]]. Cells bound per-task materialization to roughly
   * `cellFactor × expertSize` rows.
   */
  def buildExpertsByLocality(data: RDD[(Array[Double], Double)], expertSize: Int,
      seed: Long, cellFactor: Int = 32, maxCells: Int = 1024): RDD[ExpertData] = {
    import org.apache.spark.mllib.clustering.KMeans
    import org.apache.spark.mllib.linalg.Vectors

    // Cache the input: this path makes three passes (count, quantizer
    // sample, assignment) and without it each re-executes the upstream
    // row conversion — 3× input I/O per fit.
    val cached = data.persist(StorageLevel.MEMORY_AND_DISK)
    val n = cached.count()
    val cells = math.max(1, math.min(maxCells.toLong,
      n / (expertSize.toLong * cellFactor) + 1)).toInt
    val sampleTarget = math.min(n, math.max(10000L, cells * 50L)).toDouble
    val sample = cached.map(_._1)
      .sample(withReplacement = false, math.min(1.0, sampleTarget / n), seed)
      .map(Vectors.dense)
    val quantizer = new KMeans().setK(cells).setSeed(seed).setMaxIterations(10)
      .run(sample)

    val experts = chunkAssignedCells(
      cached.map { case (x, y) => (quantizer.predict(Vectors.dense(x)), (x, y)) },
      expertSize)
      .map(_._2)
      .persist(StorageLevel.MEMORY_AND_DISK)
    experts.count() // materialize so the input cache can be released
    cached.unpersist()
    experts
  }

  /** Cell-keyed shuffle + balanced chunk split shared by the locality
    * paths: one `aggregateByKey`, then each cell splits into balanced
    * ~`expertSize` chunks (all rows of a chunk stay within the cell, so
    * locality is preserved). The cell key is kept for callers that audit
    * per-cell structure (gp12). */
  private def chunkAssignedCells(
      assigned: RDD[(Int, (Array[Double], Double))],
      expertSize: Int): RDD[(Int, ExpertData)] = {
    type Acc = (scala.collection.mutable.ArrayBuffer[Array[Double]],
      scala.collection.mutable.ArrayBuffer[Double])
    def newAcc: Acc = (scala.collection.mutable.ArrayBuffer.empty,
      scala.collection.mutable.ArrayBuffer.empty)
    assigned
      .aggregateByKey(newAcc)(
        { case ((xs, ys), (x, y)) => xs += x; ys += y; (xs, ys) },
        { case ((xs1, ys1), (xs2, ys2)) => xs1 ++= xs2; ys1 ++= ys2; (xs1, ys1) })
      .flatMap { case (cell, (xs, ys)) =>
        val len = xs.length
        val chunks = math.max(1, (len + expertSize - 1) / expertSize)
        val base = len / chunks
        val extra = len % chunks
        var offset = 0
        (0 until chunks).map { c =>
          val size = base + (if (c < extra) 1 else 0)
          val e = new ExpertData(
            xs.slice(offset, offset + size).toArray,
            ys.slice(offset, offset + size).toArray)
          offset += size
          (cell, e)
        }
      }
  }

  /**
   * The locality path with PRECOMPUTED centers — the REPLAYABLE twin of
   * [[buildExpertsByLocality]] (gp12's driver gate): assignment is
   * nearest-center by squared distance with ties to the lowest cell
   * (the same rule `ivfQuantizerReplayable` trains with and a SQL
   * `ORDER BY dist, cell` replays), then the identical aggregateByKey +
   * balanced chunk split. Centers are model-sized and ride the task
   * closure; assignment is one narrow map; the only shuffle is the
   * cell-keyed aggregate. Returns (cell, expert) so per-cell structure
   * is auditable.
   */
  def buildExpertsByLocalityWithCenters(
      data: RDD[(Array[Double], Double)],
      expertSize: Int,
      centers: Array[Array[Double]]): RDD[(Int, ExpertData)] = {
    require(centers.nonEmpty, "empty center set")
    val k = centers.length
    chunkAssignedCells(
      data.map { case (x, y) =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < x.length) { val t = x(i) - centers(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        (best, (x, y))
      },
      expertSize)
  }

  // ------------------------------------------------------------- optimizer

  /**
   * Minimize the summed per-expert objective over kernel hyperparameters
   * with L-BFGS-B inside the kernel's box bounds. Each evaluation is one
   * treeAggregate; results are memoized because the line search
   * re-queries points (reference `DiffFunctionMemoized.scala`).
   */
  def optimizeHypers(
      experts: RDD[ExpertData],
      kernel: Kernel,
      objective: (ExpertData, Kernel) => (Double, BDV[Double]),
      maxIter: Int,
      tol: Double): Kernel = {
    val dim = kernel.numHypers
    if (dim == 0) return kernel
    val (lo, hi) = kernel.bounds
    val cache = scala.collection.mutable.HashMap.empty[BDV[Double], (Double, BDV[Double])]
    val f = new DiffFunction[BDV[Double]] {
      def calculate(h: BDV[Double]): (Double, BDV[Double]) =
        cache.getOrElseUpdate(h.copy, {
          // Locals only in the Spark closures below — referencing the
          // enclosing anonymous DiffFunction would drag it into the
          // serialized task.
          // LBFSB's line search can query fractionally OUTSIDE the box
          // (observed: a lengthscale pushed below its positive lower
          // bound on small noisy folds) and, when an evaluation turns
          // non-finite, NaN step sizes — evaluate at the box projection
          // and pin non-finite components to the current best-known
          // value (the kernel's own), the standard box-constrained
          // practice.
          val hP = BDV.tabulate(dim) { i =>
            val v = if (h(i).isNaN) kernel.hypers(i) else h(i)
            math.min(hi(i), math.max(lo(i), v))
          }
          val k = kernel.withHypers(hP)
          val obj = objective
          val d = dim
          experts.treeAggregate((0.0, BDV.zeros[Double](d)))(
            seqOp = { case ((v, g), e) =>
              val (ev, eg) = obj(e, k)
              (v + ev, g += eg)
            },
            combOp = { case ((v1, g1), (v2, g2)) => (v1 + v2, g1 += g2) },
            depth = 2)
        })
    }
    val solver = new LBFGSB(lo, hi, maxIter = maxIter, tolerance = tol)
    val h = solver.minimize(f, kernel.hypers)
    kernel.withHypers(BDV.tabulate(dim) { i =>
      val v = if (h(i).isNaN) kernel.hypers(i) else h(i)
      math.min(hi(i), math.max(lo(i), v))
    })
  }

  /**
   * Fixed-step, quantized gradient-descent hyper fit — the REPLAYABLE
   * twin of [[optimizeHypers]] (the unrolled-oracle trick a04 uses for
   * quantizer training, applied to GP training): `steps` plain GD
   * iterations on the summed per-expert objective, with the aggregated
   * NLL and gradient snapped to the 1e-6 grid before use so a SQL
   * oracle replaying the same closed forms lands on bit-identical
   * hypers. L-BFGS-B line searches are not SQL-replayable; fixed-step
   * GD on the same objective is, and it exercises the identical
   * kernel-gradient → NLL-gradient → treeAggregate path the production
   * fit runs. Returns one row per step 0..steps: (step, hypers at that
   * step, quantized NLL evaluated AT those hypers) — the last row
   * proves the post-update evaluation too. Updates are box-projected
   * exactly as [[optimizeHypers]] projects its line-search points.
   */
  def gdHyperFit(
      experts: RDD[ExpertData],
      kernel: Kernel,
      objective: (ExpertData, Kernel) => (Double, BDV[Double]),
      steps: Int,
      lr: Double): Seq[(Int, BDV[Double], Double)] = {
    def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val dim = kernel.numHypers
    val (lo, hi) = kernel.bounds
    var k = kernel
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, BDV[Double], Double)]
    var step = 0
    while (step <= steps) {
      val obj = objective
      val kk = k
      val d = dim
      val (nll, grad) = experts.treeAggregate((0.0, BDV.zeros[Double](d)))(
        seqOp = { case ((v, g), e) =>
          val (ev, eg) = obj(e, kk)
          (v + ev, g += eg)
        },
        combOp = { case ((v1, g1), (v2, g2)) => (v1 + v2, g1 += g2) },
        depth = 2)
      out += ((step, kk.hypers.copy, q6(nll)))
      if (step < steps) {
        val h = BDV.tabulate(d) { i =>
          val v = kk.hypers(i) - lr * q6(grad(i))
          q6(math.min(hi(i), math.max(lo(i), v)))
        }
        k = kk.withHypers(h)
      }
      step += 1
    }
    out.toSeq
  }

  // ------------------------------------------------- regression likelihood

  /** Negative log marginal likelihood and its gradient for one expert:
    * ½ yᵀK⁻¹y + ½ log|K|; ∂/∂θ = −½ tr((ααᵀ−K⁻¹)∂K/∂θ), α = K⁻¹y. */
  def regressionObjective(e: ExpertData, k: Kernel): (Double, BDV[Double]) = {
    val (km, grads) = k.gramWithGrad(e)
    val l = cholOrThrow(km)
    val logdet = 2.0 * sum(log(diag(l)))
    val y = BDV(e.y)
    val alpha = LinAlg.cholSolve(l, y)
    val nll = 0.5 * (y dot alpha) + 0.5 * logdet
    val kinv = LinAlg.cholInverse(l)
    val aat = alpha * alpha.t
    aat -= kinv
    val grad = BDV(grads.map(dk => -0.5 * sum(aat *:* dk)): _*)
    (nll, grad)
  }

  // --------------------------------------------- classification likelihood

  /**
   * Laplace-approximated negative log marginal likelihood and gradient
   * for one expert of a binary (0/1) GP classifier with logistic link.
   * Newton mode-finding is Algorithm 3.1, the gradient Algorithm 5.1 of
   * Rasmussen & Williams 2005 (as in the reference spark-gp
   * `GaussianProcessClassifier.scala:74`). The expert's latent mode is
   * warm-started in `e.latent` across optimizer iterations.
   */
  def classificationObjective(e: ExpertData, k: Kernel, tol: Double = 1e-6):
      (Double, BDV[Double]) = {
    val (km, grads) = k.gramWithGrad(e)
    val n = e.size
    val y = BDV(e.y)
    val f = e.latent
    val yPm = y * 2.0 - 1.0 // labels as ±1

    def psi(av: BDV[Double], fv: BDV[Double]): Double =
      -0.5 * (av dot fv) + sum(log(sigmoid(yPm *:* fv)))

    // a = K⁻¹f for the warm-started mode (zero vector on a cold start).
    var a =
      if (breeze.linalg.norm(f) == 0.0) BDV.zeros[Double](n)
      else LinAlg.cholSolve(cholOrThrow(km), f)
    var obj = psi(a, f)
    var l: BDM[Double] = null
    var sqrtW = BDV.zeros[Double](n)
    var pi = BDV.zeros[Double](n)
    var it = 0
    var converged = false
    while (!converged && it < 64) {
      pi = sigmoid(f)
      val w = pi *:* (1.0 - pi)
      sqrtW = breeze.numerics.sqrt(w)
      // B = I + D_sqrtW K D_sqrtW
      val b = BDM.tabulate(n, n)((i, j) =>
        (if (i == j) 1.0 else 0.0) + sqrtW(i) * km(i, j) * sqrtW(j))
      l = cholOrThrow(b)
      val rhs = w *:* f + (y - pi)
      val v = sqrtW *:* (km * rhs)
      val aCand = rhs - (sqrtW *:* LinAlg.cholSolve(l, v))
      // Damped Newton: blend toward the candidate until ψ improves
      // (a is linear in f, so the blend of a matches the blend of f).
      var step = 1.0
      var accepted = false
      while (!accepted && step > 1e-10) {
        val aNew = a * (1.0 - step) + aCand * step
        val fNew = f * (1.0 - step) + (km * aCand) * step
        val objNew = psi(aNew, fNew)
        if (objNew >= obj || step <= 2e-10) {
          if (math.abs(objNew - obj) < tol) converged = true
          f := fNew
          a = aNew
          obj = objNew
          accepted = true
        } else step /= 2
      }
      it += 1
    }

    // Decomposition at the mode for logZ and the gradient.
    pi = sigmoid(f)
    val w = pi *:* (1.0 - pi)
    sqrtW = breeze.numerics.sqrt(w)
    val bM = BDM.tabulate(n, n)((i, j) =>
      (if (i == j) 1.0 else 0.0) + sqrtW(i) * km(i, j) * sqrtW(j))
    l = cholOrThrow(bM)
    val gradLogP = y - pi
    val logZ = obj - sum(log(diag(l)))

    // Algorithm 5.1 gradient.
    val binv = LinAlg.cholInverse(l)
    val r = BDM.tabulate(n, n)((i, j) => sqrtW(i) * binv(i, j) * sqrtW(j))
    val c = LinAlg.forwardSolveMatrix(l, BDM.tabulate(n, n)((i, j) => sqrtW(i) * km(i, j)))
    val ctcDiag = BDV.tabulate(n)(j => {
      var s = 0.0; var i = 0
      while (i < n) { s += c(i, j) * c(i, j); i += 1 }
      s
    })
    // ∂³ log p(y|f) / ∂f³ = π(1−π)(2π−1); ∂logZ/∂f̂_i =
    // +½ [(K⁻¹+W)⁻¹]_ii ∂³ (the "−½ ∇³" in R&W Alg 5.1 uses ∇³ of the
    // negated likelihood — reference GaussianProcessClassifier.scala:120
    // encodes the same sign via d3logP = −(2π−1)π²e^{−f}).
    val d3 = pi *:* (1.0 - pi) *:* (pi * 2.0 - 1.0)
    val s2 = (diag(km) - ctcDiag) *:* d3 *:* 0.5

    val grad = BDV(grads.map { dk =>
      val s1 = 0.5 * (a dot (dk * a)) - 0.5 * sum(r *:* dk)
      val b3 = dk * gradLogP
      val s3 = b3 - km * (r * b3)
      s1 + (s2 dot s3)
    }: _*)

    (-logZ, -grad)
  }

  /**
   * The full binary-GP-classifier fit recipe shared by [[GPClassifier]]
   * and [[GPBinaryClassifier]]: label check, BCM hyper optimization
   * under the Laplace objective, inducing selection, one warm-started
   * Newton pass pinning each expert's latent mode (reference
   * `GaussianProcessClassifier.scala:62`), projected-process build.
   * The 0/1 validation reads the PERSISTED experts (materializing them
   * is work the optimizer needs anyway) — not the raw input, which
   * would cost one extra pass over the whole upstream pipeline.
   */
  private[gp] def fitBinaryGP(
      experts: RDD[ExpertData],
      kernel: Kernel,
      newtonTol: Double,
      maxIter: Int,
      tol: Double,
      selectZ: Kernel => Array[Array[Double]]): ProjectedGP = {
    // ONE parallel pass (also materializes the expert cache in
    // parallel): `take(1)` on a match-nothing flatMap would scan the
    // partitions in sequential 1/4/20… waves — measured 3× on gp02.
    val labelsOk = experts
      .map(_.y.forall(y => y == 0.0 || y == 1.0))
      .fold(true)(_ && _)
    require(labelsOk, "GP classification supports 0/1 labels only")
    val optimal = optimizeHypers(
      experts, kernel,
      (e, k) => classificationObjective(e, k, newtonTol), maxIter, tol)
    val z = selectZ(optimal)
    val targets = experts.map { e =>
      classificationObjective(e, optimal, newtonTol)
      (e.latent.copy, e)
    }
    val proj = fitProjected(targets, optimal, z)
    experts.unpersist()
    proj
  }

  // ------------------------------------------------------ projected process

  /**
   * Fit the Projected Process model over inducing set `z` from per-expert
   * targets (y for regression, latent modes for classification):
   * one treeAggregate accumulating K_mn·K_nm (m×m) and K_mn·t (m).
   */
  def fitProjected(
      targetsAndExperts: RDD[(BDV[Double], ExpertData)],
      kernel: Kernel,
      z: Array[Array[Double]]): ProjectedGP = {
    val m = z.length
    val sc = targetsAndExperts.sparkContext
    val zBC = sc.broadcast(z)
    val (kmnKnm, kmnT) = targetsAndExperts.treeAggregate(
      (BDM.zeros[Double](m, m), BDV.zeros[Double](m)))(
      seqOp = { case ((mAcc, vAcc), (t, e)) =>
        val kmn = kernel.cross(zBC.value, e.x)
        mAcc += kmn * kmn.t
        vAcc += kmn * t
        (mAcc, vAcc)
      },
      combOp = { case ((m1, v1), (m2, v2)) => (m1 += m2, v1 += v2) },
      depth = 2)
    zBC.destroy()

    val zData = new ExpertData(z, new Array[Double](m))
    val kmm = kernel.gram(zData) // includes the σ² diagonal via the white term
    val sigma2 = kernel.noiseVar
    val b = (kmm *:* sigma2) + kmnKnm
    val lb = cholOrThrow(b)
    val weights = LinAlg.cholSolve(lb, kmnT)
    val covAdjust = (LinAlg.cholInverse(lb) *:* sigma2) - inv(kmm)
    ProjectedGP(z, weights, covAdjust, kernel)
  }

  private[gp] def cholOrThrow(mat: BDM[Double]): BDM[Double] =
    try cholesky(mat)
    catch { case e: Exception => throw new NotPositiveDefiniteException(e) }
}

/**
 * The deployable GP model: inducing inputs Z, weight vector
 * w = (σ²K_mm + K_mn K_nm)⁻¹ K_mn t, and covariance adjustment
 * M = σ²B⁻¹ − K_mm⁻¹. Size O(m²) — broadcast for prediction.
 */
final case class ProjectedGP(
    inducing: Array[Array[Double]],
    weights: BDV[Double],
    covAdjust: BDM[Double],
    kernel: Kernel) extends Serializable {

  /** (predictive mean, predictive variance) of the latent function. */
  def predict(x: Array[Double]): (Double, Double) = {
    val kx = kernel.cross(Array(x), inducing) // 1×m
    val kv = kx(0, ::).t
    val mean = kv dot weights
    val variance = kernel.self(x) + (kv dot (covAdjust * kv))
    (mean, variance)
  }
}

/** Dense triangular/Cholesky helpers (s ≈ 100, loops beat BLAS setup). */
private[gp] object LinAlg {

  /** Solve L y = b (L lower-triangular). */
  def forwardSolve(l: BDM[Double], b: BDV[Double]): BDV[Double] = {
    val n = b.length
    val y = BDV.zeros[Double](n)
    var i = 0
    while (i < n) {
      var s = b(i)
      var j = 0
      while (j < i) { s -= l(i, j) * y(j); j += 1 }
      y(i) = s / l(i, i)
      i += 1
    }
    y
  }

  /** Solve Lᵀ x = y (L lower-triangular). */
  def backwardSolve(l: BDM[Double], y: BDV[Double]): BDV[Double] = {
    val n = y.length
    val x = BDV.zeros[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = y(i)
      var j = i + 1
      while (j < n) { s -= l(j, i) * x(j); j += 1 }
      x(i) = s / l(i, i)
      i -= 1
    }
    x
  }

  /** Solve (L Lᵀ) x = b given the Cholesky factor L. */
  def cholSolve(l: BDM[Double], b: BDV[Double]): BDV[Double] =
    backwardSolve(l, forwardSolve(l, b))

  /** (L Lᵀ)⁻¹ given the Cholesky factor L. */
  def cholInverse(l: BDM[Double]): BDM[Double] = {
    val n = l.rows
    val out = BDM.zeros[Double](n, n)
    var c = 0
    while (c < n) {
      val e = BDV.zeros[Double](n); e(c) = 1.0
      out(::, c) := cholSolve(l, e)
      c += 1
    }
    out
  }

  /** Solve L Y = B column-wise (L lower-triangular, B a matrix). */
  def forwardSolveMatrix(l: BDM[Double], b: BDM[Double]): BDM[Double] = {
    val out = BDM.zeros[Double](b.rows, b.cols)
    var c = 0
    while (c < b.cols) {
      out(::, c) := forwardSolve(l, b(::, c).copy)
      c += 1
    }
    out
  }
}
