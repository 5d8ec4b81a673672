package perfbench

import scala.jdk.CollectionConverters._

import graft.automl.{Hyperband, ModelFactory}
import graft.model.{FittedSurvModel, Param, SurvModel}
import graft.surv.{ChurnView, SurvDataset}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

/** One operation of a pass, with the values its correctness check reads. */
final case class Op(name: String, seconds: Double, ok: Boolean, error: String,
                    values: Seq[(String, Any)])

object Op {
  /** Times `f` and turns a throw into a failed operation. */
  def run(name: String)(f: => Seq[(String, Any)]): Op = {
    val t0 = System.nanoTime()
    try {
      val v = f
      Op(name, (System.nanoTime() - t0) / 1e9, ok = true, "", v)
    } catch {
      case e: Throwable =>
        Op(name, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getName}: ${e.getMessage}", Nil)
    }
  }
}

/** A benchmark workload: shared inputs built once per run (the set-up),
  * then passes of operations against them, each with its own outputs.
  */
trait Workload {
  def name: String
  /** Session conf on top of the common one. */
  def extraConf: Map[String, String] = Map.empty
  /** Name of the span that times one set-up. */
  def setupSpan: String
  /** Builds the shared inputs on `spark`. */
  def setup(spark: SparkSession, dir: String): Unit
  /** One pass of operations; the cold pass is the first. */
  def pass(spark: SparkSession, dir: String, cold: Boolean): Seq[Op]
  /** Pass-level per-layer values the spans cannot give. */
  def passExtras(): Map[String, Double] = Map.empty
  /** Writes the outputs whose content is checked after the run. */
  def dumpOutputs(spark: SparkSession, dir: String, out: String): Unit = ()
}

object Workloads {
  /** The model families of Hyperband's default seeds. */
  val Families: Seq[String] = ModelFactory.defaults.map(_.name)

  val Queries: Seq[String] = Seq(
    // loop queries
    "q_pagerank", "q_dedup_cc",
    // one-shot queries
    "q_dedup_minhash_lsh", "q_text_lm_buckets", "q1_agg")

  def apply(name: String, cores: Int): Workload = name match {
    case "hb_select"    => new HbSelect(cores)
    case "pipeline_ops" => new PipelineOps
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (hb_select, pipeline_ops)")
  }
}

/** One synchronous Hyperband model selection over the default seeds,
  * on the churn dataset (the set-up). maxIter = 3 is the smallest
  * budget with two brackets and a promotion: 7 config evaluations and
  * the winner's refit per pass. The refit's budget (9) differs from
  * every rung's (1 and 3), which is how its span is told apart. The sampler keeps Hyperband's default
  * seed, so every benchmark seed evaluates the same hyperparameters on
  * its own data and the work per pass does not depend on the seed.
  */
final class HbSelect(cores: Int) extends Workload {
  val name = "hb_select"
  val maxIter = 3
  val eta = 3
  val outputEpochs = 9
  override def extraConf: Map[String, String] = Map("spark.scheduler.mode" -> "FAIR")

  val setupSpan = "surv.dataset"
  @volatile private var ds: SurvDataset = _
  def setup(spark: SparkSession, dir: String): Unit = {
    ds = ChurnView.dataset(spark, dir)
  }

  def pass(spark: SparkSession, dir: String, cold: Boolean): Seq[Op] = {
    val sc = spark.sparkContext
    val seeds = ModelFactory.defaults.map(f => new TracedFactory(f, sc, outputEpochs))
    Seq(Op.run("select") {
      val hb = new Hyperband(seeds = seeds, maxIter = maxIter, eta = eta,
        outputEpochs = outputEpochs, parallelism = cores, async = false)
      val fitted = Trace.span(sc, "automl.select")(hb.selectModel(ds))
      fitted.release()
      Seq(
        "winner" -> hb.bestModel.map(_.name).getOrElse(""),
        "params" -> hb.bestParams.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(","),
        "best" -> hb.bestScore)
    })
  }
}

/** Delegates every call unchanged; times fit and score as spans. The
  * final refit (the one at `outputEpochs`) is its own span.
  */
final class TracedFactory(inner: ModelFactory, sc: org.apache.spark.SparkContext,
                          outputEpochs: Int) extends ModelFactory {
  def name: String = inner.name
  def space: Seq[Param] = inner.space
  def build(params: Map[String, Any], epochs: Int): SurvModel = {
    val m = inner.build(params, epochs)
    val fitSpan = if (epochs == outputEpochs) "automl.refit" else s"model.${inner.name}.fit"
    new SurvModel {
      def name: String = m.name
      def hyperparameterSpace: Seq[Param] = m.hyperparameterSpace
      def fit(d: SurvDataset): FittedSurvModel = {
        val f = Trace.span(sc, fitSpan)(m.fit(d))
        new FittedSurvModel {
          override def release(): Unit = f.release()
          def predictSurv(tensorized: DataFrame, grid: Array[Double]): DataFrame =
            f.predictSurv(tensorized, grid)
          override def score(d2: SurvDataset): Map[String, Double] =
            Trace.span(sc, s"eval.${inner.name}.score")(f.score(d2))
        }
      }
    }
  }
}

/** Declared training-data queries, run as graft.Bench runs them: the
  * planned physical tree, executed and counted. The cold pass collects
  * the rows instead of counting them, from the same executed tree, so
  * their content can be checked without running the queries again.
  * The order is fixed: whichever query runs first pays the warm-up its
  * successors share, so a seeded order would move cost between them.
  */
final class PipelineOps extends Workload {
  val name = "pipeline_ops"
  val setupSpan = "core.tables"
  private var planSeconds = 0.0
  private val results = scala.collection.mutable.Map.empty[String, (StructType, Array[InternalRow])]

  def setup(spark: SparkSession, dir: String): Unit =
    graft.core.Tables.all.foreach(t => graft.core.Tables.load(spark, dir, t).schema)

  def pass(spark: SparkSession, dir: String, cold: Boolean): Seq[Op] = {
    val sc = spark.sparkContext
    planSeconds = 0.0
    Workloads.Queries.map { q =>
      Op.run(s"query.$q") {
        Trace.span(sc, s"queries.$q") {
          val df = Trace.span(sc, s"queries.$q.build")(
            graft.SparkEntry.queries(q)(spark, dir))
          val plan = Trace.span(sc, s"queries.$q.plan")(df.queryExecution.executedPlan)
          planSeconds += df.queryExecution.tracker.phases.values
            .map(_.durationMs).sum / 1000.0
          val rows = Trace.span(sc, s"queries.$q.execute") {
            if (!cold) plan.execute().count()
            else {
              val got = plan.execute().map(_.copy()).collect()
              results(q) = (plan.schema, got)
              got.length.toLong
            }
          }
          Seq("rows" -> rows)
        }
      }
    }
  }

  override def passExtras(): Map[String, Double] = Map("queries.plan_s" -> planSeconds)

  override def dumpOutputs(spark: SparkSession, dir: String, out: String): Unit = {
    results.foreach { case (q, (schema, rows)) =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val external = rows.toSeq.map(r => toRow(r).asInstanceOf[Row])
      spark.createDataFrame(external.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$q")
    }
    val oracles = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.write(Workloads.Queries.filter(oracles.contains).map(q => q -> oracles(q)).toMap))
  }
}
