package graft

import graft.kg.{KgConfig, Pipeline, SyntheticCorpus}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Executed (post-AQE) physical plans, formatted. A target is any
  * `SparkEntry.queries` name, read from `sfDir`, or `kg` / `kg_salted`:
  * the four `Pipeline.run` output frames over 60 synthetic pages in the
  * broadcast / forced-salted join regime.
  * Usage: runMain graft.PlanDump <sfDir> <target...> */
object PlanDump {
  private val KgTargets = Map("kg" -> false, "kg_salted" -> true)

  def targets: Seq[String] = (SparkEntry.queries.keys ++ KgTargets.keys).toSeq.sorted

  /** Runs the target's frames and returns their plans. Each frame runs its
    * OWN QueryExecution, so the printed plan is the one AQE finalized. */
  def dump(spark: SparkSession, sfDir: String, target: String): String = {
    def executed(name: String, df: DataFrame): String = {
      val qe = df.queryExecution
      SQLExecution.withNewExecutionId(qe, Some(s"PlanDump $name"))(
        qe.toRdd.foreach(_ => ()))
      s"================ $name ================\n" +
        qe.explainString(FormattedMode)
    }
    (SparkEntry.queries.get(target), KgTargets.get(target)) match {
      case (Some(q), _) => executed(target, q(spark, sfDir))
      case (_, Some(salted)) =>
        import spark.implicits._
        val corpus = SyntheticCorpus.generate(nPages = 60, seed = 42L)
        val res = Pipeline.run(spark, corpus.pages.toDS(),
          Pipeline.dictsFromCorpus(spark, corpus),
          KgConfig.default.copy(forceSaltedJoins = salted))
        try Seq("edges" -> res.edges, "nodes" -> res.nodes,
            "components" -> res.components, "metrics" -> res.metrics)
          .map { case (n, df) => executed(s"$target.$n", df) }.mkString("\n")
        finally res.release()
      case _ => throw new IllegalArgumentException(
        s"unknown target '$target'; valid targets: ${targets.mkString(", ")}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.PlanDump <sfDir> <target...>")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args.drop(1).foreach(t => println(dump(spark, args(0), t)))
    finally spark.stop()
  }
}
