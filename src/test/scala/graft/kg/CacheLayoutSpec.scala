package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** The nodes cache is the FLAT link output with the nested shape assembled
  * on top (Linking.linkFlat + nest): Spark's in-memory cache prunes only
  * top-level columns and stores structs as opaque blobs, so a narrow
  * consumer of the nested form must collapse through the nesting
  * projection to flat columns — otherwise every statistics pass
  * decompresses the full fat payload (extracts, multilang). This spec
  * pins that collapse. */
class CacheLayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val result = {
    val corpus = SyntheticCorpus.generate(nPages = 30, seed = 3L)
    val res = Pipeline.run(spark, spark.createDataset(corpus.pages),
      Pipeline.dictsFromCorpus(spark, corpus))
    res.nodes.count() // materialize the cache
    res
  }

  private def imrScanOutputs(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect {
      case s: InMemoryTableScanExec => s.output.map(_.name)
    }.flatten.toSet

  test("narrow reads through the nested view prune to flat columns") {
    val narrow = result.nodes.select(
      col("sources.wikipedia.status").as("wp_status"),
      col("sources.wikidata.status").as("wd_status"),
      col("sources.wikipedia.categories").as("categories"),
      col("sources.wikidata.instance_of.label").as("inst_labels"))
    val out = imrScanOutputs(narrow)
    assert(out.nonEmpty, "expected an InMemoryTableScan under the narrow read")
    assert(out.contains("wiki_status") && out.contains("wiki_categories"),
      s"scan must read the flat columns, got $out")
    for (fat <- Seq("wiki_extract", "wiki_multilang", "dbp_abstract", "sources"))
      assert(!out.contains(fat),
        s"fat column $fat must NOT be materialized by a narrow read; scan reads $out")
  }

  test("the statistics metrics plan itself never scans the fat columns") {
    val metricsOverNodes = Statistics.compute(
      spark, result.nodes, result.edges, "probe")
    val out = imrScanOutputs(metricsOverNodes)
    for (fat <- Seq("wiki_extract", "wiki_multilang", "dbp_abstract", "wd_descriptions"))
      assert(!out.contains(fat),
        s"statistics must not decompress $fat; scans read $out")
  }

  test("full nested read still reconstructs every field") {
    val row = result.nodes
      .filter(col("sources.wikipedia.status") === "found")
      .select(col("sources.wikipedia.extract"), col("sources.wikipedia.multilang"),
        col("details.typ"), col("sources.wikidata.url"))
      .head()
    assert(row.getString(0) != null && row.getString(0).nonEmpty)
    assert(row.getString(2) != null)
  }
}
