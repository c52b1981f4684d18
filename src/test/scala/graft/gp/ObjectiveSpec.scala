package graft.gp

import breeze.linalg.{DenseVector => BDV}
import org.scalatest.funsuite.AnyFunSuite

import graft.gp.kernel._
import graft.gp.kernel.Kernels._

class ObjectiveSpec extends AnyFunSuite {

  private def regressionXY(n: Int): (Array[Array[Double]], Array[Double]) = {
    val rnd = new scala.util.Random(23)
    val x = Array.tabulate(n)(i => Array(4.0 * i / n))
    val y = x.map(v => math.sin(2 * v(0)) + 0.05 * rnd.nextGaussian())
    (x, y)
  }

  private def classificationXY(n: Int): (Array[Array[Double]], Array[Double]) = {
    val rnd = new scala.util.Random(29)
    val x = Array.fill(n)(Array(rnd.nextGaussian()))
    val y = x.map(v => if (v(0) > 0) 1.0 else 0.0)
    (x, y)
  }

  /** Finite-diff check on FIXED data; a fresh ExpertData per evaluation so
    * the warm-started classification latent doesn't couple evaluations. */
  private def checkObjGradient(
      obj: (ExpertData, Kernel) => (Double, BDV[Double]),
      xy: (Array[Array[Double]], Array[Double]),
      k: Kernel,
      tol: Double): Unit = {
    def fresh() = new ExpertData(xy._1, xy._2)
    val h = k.hypers.copy
    val (_, grad) = obj(fresh(), k.withHypers(h))
    val eps = 1e-5
    for (j <- 0 until k.numHypers) {
      val hp = h.copy; hp(j) += eps
      val hm = h.copy; hm(j) -= eps
      val (vp, _) = obj(fresh(), k.withHypers(hp))
      val (vm, _) = obj(fresh(), k.withHypers(hm))
      val fd = (vp - vm) / (2 * eps)
      assert(math.abs(fd - grad(j)) < tol * (1 + math.abs(fd)),
        s"hyper $j: finite-diff $fd vs analytic ${grad(j)}")
    }
  }

  test("regression NLL gradient matches finite differences") {
    checkObjGradient(GPCore.regressionObjective, regressionXY(30),
      1.0 * rbf(0.8) + white(0.01), 1e-4)
  }

  test("classification Laplace gradient matches finite differences") {
    checkObjGradient(
      (e, k) => GPCore.classificationObjective(e, k, 1e-10),
      classificationXY(30),
      1.0 * rbf(0.8), 1e-3)
  }

  test("classification objective is finite at sane hypers") {
    val (x, y) = classificationXY(40)
    val e = new ExpertData(x, y)
    val k = 1.0 * rbf(1.0)
    val (v, g) = GPCore.classificationObjective(e, k)
    assert(!v.isNaN && !v.isInfinity, s"value $v")
    assert(g.forall(d => !d.isNaN), s"grad $g")
  }

  test("a non-positive-definite matrix throws with the Cholesky failure as cause") {
    // eigenvalues 3 and -1: symmetric but indefinite
    val m = breeze.linalg.DenseMatrix((1.0, 2.0), (2.0, 1.0))
    val e = intercept[GPCore.NotPositiveDefiniteException](GPCore.cholOrThrow(m))
    assert(e.getCause != null, "the breeze exception must ride along as the cause")
  }
}
