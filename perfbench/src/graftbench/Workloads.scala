package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.gp.{GPClassificationModel, GPClassifier, GPRegressionModel, GPRegressor}
import graft.gp.kernel.Kernels

/** One step of a workload: one call into a public graft entry point.
  * `run` is the driver-side build; it returns the DataFrame whose every
  * column the benchmark forces, or None when the step's product is a
  * fitted model. */
final case class Step(name: String, module: String, run: () => Option[DataFrame])

/** The benchmark's workloads. The registry lists are frozen by name:
  * a query added to the registry later does not change them. */
object Workloads {

  val names: Seq[String] = Seq("olap", "corpus", "gp")

  // The lists are short because every run starts a fresh JVM and pays
  // a cold execution of each step before it times anything; see
  // perfbench/DESIGN.md for the run budget.

  /** Driver-bound steps: a Catalyst-planned join and aggregate, the TopK
    * node (k01), a layout step that writes and reads back ORC files (l04)
    * and a graph iterate of many small jobs (x02). */
  val olap: Seq[String] = Seq(
    "q18_large_orders", "k01_topk_per_group", "l04_orc_source", "x02_shortest_paths")

  /** Per-row CPU in the LLM-data operators and the graftshim native
    * expressions (span dedup, BPE tokens, TF-IDF kNN, fuzzy join, image
    * decode), plus a stateful streaming dedup harness whose generated
    * code fails to compile (st15). */
  val corpus: Seq[String] = Seq(
    "d17_charspan_removal", "t20_bpe_tokens", "a18_knn_text_tf", "r04_fuzzy_join_ed2",
    "mm05_image_decode", "st15_stream_image_dedup")

  /** Every registry step the benchmark runs, for the output check. */
  val registrySteps: Seq[String] = olap ++ corpus

  /** The graft module a registry step mostly exercises, by name family. */
  def module(name: String): String = name.takeWhile(_ != '_').takeWhile(!_.isDigit) match {
    case "d" | "dc" | "p" => "dedup"
    case "t" => "text"
    case "a" => "similarity"
    case "r" => "fuzzyjoin"
    case "mm" => "multimodal"
    case "l" => "layout"
    case "x" => "graph"
    case "st" => "streaming"
    case _ => "queries"
  }

  def registry(spark: SparkSession, dataDir: String, names: Seq[String]): Seq[Step] = {
    val queries = SparkEntry.queries
    names.map { n =>
      val fn = queries.getOrElse(n, throw new IllegalStateException(s"step $n is not in the registry"))
      Step(n, module(n), () => Some(fn(spark, dataDir)))
    }
  }
}

/**
 * The `gp` workload: the shape of the reference's PerformanceBenchmark
 * (3-d points, RBF kernel, expert size equal to inducing size) at a size
 * where the BCM fit and the projected-process predict dominate.
 *
 * Inputs are pure functions of (seed, row id) through `xxhash64`, over a
 * fixed partition count, so they are the same on any core count.
 */
final class GpWorkload(spark: SparkSession, seed: Long) {
  import GpWorkload._

  private def points(stream: Int, n: Long): DataFrame = {
    def u(j: Int) =
      xxhash64(col("id"), lit(seed), lit(stream), lit(j)).bitwiseAND(lit((1L << 53) - 1))
        .cast("double") / lit((1L << 53).toDouble)
    val x = spark.range(0L, n, 1L, Partitions).select(col("id"), array(u(0), u(1), u(2)).as("features"))
    val f = sin(lit(3.0) * aggregate(col("features"), lit(0.0), (a, b) => a + b))
    x.select(col("id"), col("features"), f.as("label"), when(f > 0, 1.0).otherwise(0.0).as("class"))
  }

  private val regTrain = points(1, RegRows)
  private val clsTrain = points(2, ClsRows).withColumnRenamed("label", "f").withColumnRenamed("class", "label")
  private val score = points(3, ScoreRows)
  private val test = points(4, TestRows)

  @volatile private var reg: GPRegressionModel = _
  @volatile private var cls: GPClassificationModel = _

  private def regressor = new GPRegressor().setKernel(() => Kernels.rbf(0.5))
    .setExpertSize(ExpertSize).setInducingSize(ExpertSize).setNoise(1e-3).setSeed(seed)
  private def classifier = new GPClassifier().setKernel(() => Kernels.rbf(0.5))
    .setExpertSize(ExpertSize).setInducingSize(ExpertSize).setNoise(1e-3).setSeed(seed)

  val steps: Seq[Step] = Seq(
    Step("gp_reg_fit", "gp", () => { reg = regressor.fit(regTrain); None }),
    Step("gp_cls_fit", "gp", () => { cls = classifier.fit(clsTrain); None }),
    Step("gp_reg_predict", "gp", () => Some(reg.setPredStdCol("std").transform(score))),
    Step("gp_cls_predict", "gp", () => Some(cls.setPredStdCol("std").transform(score))))

  /** Test RMSE of the last regression fit and test error rate of the last
    * classification fit, on fresh rows. */
  def quality(): (Double, Double) = {
    val rmse = reg.transform(test)
      .select(sqrt(avg(pow(col("prediction") - col("label"), 2)))).head().getDouble(0)
    val err = cls.transform(test)
      .select(avg(when(col("prediction") =!= col("class"), 1.0).otherwise(0.0))).head().getDouble(0)
    (rmse, err)
  }
}

object GpWorkload {
  val Partitions = 16
  val ExpertSize = 100
  val RegRows = 5000L
  val ClsRows = 1500L
  val ScoreRows = 20000L
  val TestRows = 2000L
  /** Quality ceilings: a fit above either fails the gp steps' check. */
  val MaxRmse = 0.05
  val MaxError = 0.25
}
