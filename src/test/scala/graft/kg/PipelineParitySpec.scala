package graft.kg

import graft.{JobLog, SparkSpec}
import org.apache.spark.sql.functions._

/** The parity gate (north_rule): pipeline triples vs the independent
  * single-threaded oracle, P/R ≥ 0.95 on (subject, predicate, object). */
class PipelineParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = SyntheticCorpus.generate(nPages = 200, seed = 42L)
  private lazy val cfg = KgConfig.default
  private lazy val result = {
    val pages = spark.createDataset(corpus.pages).repartition(8)
    Pipeline.run(spark, pages, Pipeline.dictsFromCorpus(spark, corpus), cfg)
  }

  test("triple parity P/R >= 0.95 vs oracle (north_rule gate)") {
    val got = result.edges.select("subject", "predicate", "object")
      .as[(String, String, String)].collect().toSet
    val expected = Oracle.expectedTriples(corpus, cfg)
    assert(expected.nonEmpty, "oracle produced no triples — corpus degenerate")
    assert(got.nonEmpty, "pipeline produced no triples")
    val tp = (got intersect expected).size.toDouble
    val precision = tp / got.size
    val recall = tp / expected.size
    info(f"triples: got=${got.size} expected=${expected.size} P=$precision%.4f R=$recall%.4f")
    if (precision < 1.0 || recall < 1.0) {
      info(s"sample only-got: ${(got diff expected).take(5)}")
      info(s"sample only-expected: ${(expected diff got).take(5)}")
    }
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")
  }

  test("salted/shuffle dictionary joins (forceSaltedJoins) produce identical nodes+edges") {
    val pages = spark.createDataset(corpus.pages).repartition(8)
    val salted = Pipeline.run(spark, pages, Pipeline.dictsFromCorpus(spark, corpus),
      cfg.copy(forceSaltedJoins = true, nSalt = 4))
    def nodeKeys(r: Pipeline.Result) = r.nodes.select(
      $"url", $"entity", $"sources.wikipedia.status", $"sources.wikidata.status",
      $"sources.dbpedia.status", $"sources.wikipedia.fallback_source",
      to_json($"sources.wikidata.instance_of"), to_json($"sources.wikidata.part_of"))
      .as[(String, String, String, String, String, String, String, String)].collect().toSet
    assert(nodeKeys(salted) == nodeKeys(result), "node parity broadcast vs salted")
    val e1 = result.edges.select("url", "subject", "predicate", "object")
      .as[(String, String, String, String)].collect().toSet
    val e2 = salted.edges.select("url", "subject", "predicate", "object")
      .as[(String, String, String, String)].collect().toSet
    assert(e1 == e2, "edge parity broadcast vs salted")
  }

  // compares whole node rows and the partition lineage too
  test("run and runMaterialized agree on edges, node keys and statistics in both regimes") {
    val small = SyntheticCorpus.generate(nPages = 60, seed = 42L)
    val pages = spark.createDataset(small.pages).repartition(4)
    val dicts = Pipeline.dictsFromCorpus(spark, small)
    def edges(r: Pipeline.Result) = r.edges
      .select("url", "subject", "predicate", "object", "inferred", "subject_id")
      .as[(String, String, String, String, String, String)].collect().toSeq
      .sortBy(_.toString)
    def nodes(r: Pipeline.Result) = r.nodes.select(to_json(struct(col("*"))))
      .as[String].collect().toSeq.sorted
    def stats(r: Pipeline.Result) = r.metrics.filter($"stage" === "stats")
      .select("metric", "key", "value").as[(String, String, Double)].collect().toSeq
      .sortBy(_.toString)
    def lineageRows(r: Pipeline.Result) = r.metrics
      .filter($"metric" === "partition_rows").agg(count(lit(1)), sum("value"))
      .as[(Long, Option[Double])].head()
    for (regime <- Seq(cfg, cfg.copy(forceSaltedJoins = true, nSalt = 4))) {
      val name = if (regime.forceSaltedJoins) "salted" else "broadcast"
      val mem = Pipeline.run(spark, pages, dicts, regime)
      val tables = new KgTables(spark,
        java.nio.file.Files.createTempDirectory(s"kg_modes_$name").toString)
      val mat = Pipeline.runMaterialized(spark, pages, dicts, tables, regime)
      val memEdges = edges(mem)
      assert(memEdges.nonEmpty)
      assert(edges(mat) == memEdges, s"edges differ between run modes ($name)")
      assert(nodes(mat) == nodes(mem), s"node rows differ between run modes ($name)")
      assert(stats(mat) == stats(mem), s"stats rows differ between run modes ($name)")
      for ((mode, r) <- Seq("run" -> mem, "runMaterialized" -> mat)) {
        val (n, total) = lineageRows(r)
        assert(n > 0, s"$mode wrote no partition lineage ($name)")
        assert(total.contains(memEdges.size.toDouble),
          s"$mode lineage sums to $total, not ${memEdges.size} edges ($name)")
      }
      mem.release()
    }
  }

  test("runMaterialized runs the extract pass once per page in both regimes") {
    val small = SyntheticCorpus.generate(nPages = 40, seed = 5L)
    val pages = spark.createDataset(small.pages).repartition(4)
    val dicts = Pipeline.dictsFromCorpus(spark, small)
    for (regime <- Seq(cfg, cfg.copy(forceSaltedJoins = true, nSalt = 4))) {
      val tables = new KgTables(spark,
        java.nio.file.Files.createTempDirectory("kg_extract_once").toString)
      val (_, log) = JobLog.during(spark) {
        val r = Pipeline.runMaterialized(spark, pages, dicts, tables, regime)
        Seq(r.edges, r.nodes, r.components, r.metrics).foreach(_.count())
      }
      assert(log.pagesProcessed == small.pages.size,
        s"extract processed ${log.pagesProcessed} pages for ${small.pages.size} " +
          s"(forceSaltedJoins=${regime.forceSaltedJoins})")
    }
  }

  test("entity caps hold: <= MAX_ENTITIES per doc, triples within entity set") {
    val perDoc = result.nodes.groupBy("url").count().agg(max("count")).head().getLong(0)
    assert(perDoc <= cfg.maxEntities)
    // every edge endpoint is a node of the same doc (R3 validation)
    val nodeSet = result.nodes.select($"url", $"entity").as[(String, String)].collect().toSet
    result.edges.select($"url", $"subject", $"object")
      .as[(String, String, String)].collect().foreach { case (u, s, o) =>
        assert(nodeSet.contains((u, s)), s"dangling subject $s in $u")
        assert(nodeSet.contains((u, o)), s"dangling object $o in $u")
      }
  }

  test("deterministic ids: rerun produces identical edges + node ids") {
    val pages = spark.createDataset(corpus.pages).repartition(3) // different partitioning
    val r2 = Pipeline.run(spark, pages, Pipeline.dictsFromCorpus(spark, corpus), cfg)
    val e1 = result.edges.select("url", "subject", "predicate", "object", "inferred", "subject_id")
      .as[(String, String, String, String, String, String)].collect().toSet
    val e2 = r2.edges.select("url", "subject", "predicate", "object", "inferred", "subject_id")
      .as[(String, String, String, String, String, String)].collect().toSet
    assert(e1 == e2)
  }

  test("linking statuses are populated and consistent with dictionaries") {
    val nodes = result.nodes
    val wpFound = nodes.filter($"sources.wikipedia.status" === "found").count()
    val dbLinked = nodes.filter($"sources.dbpedia.status" === "linked").count()
    val total = nodes.count()
    assert(total > 0)
    assert(wpFound > 0 && wpFound <= total)
    assert(dbLinked > 0 && dbLinked < total) // generator withholds ~1/3 abstracts
    // strict criterion: every linked row has uri+label+abstract
    val bad = nodes.filter($"sources.dbpedia.status" === "linked" &&
      ($"sources.dbpedia.uri".isNull || $"sources.dbpedia.label".isNull ||
       $"sources.dbpedia.abstract".isNull)).count()
    assert(bad == 0)
  }

  test("metrics: totals match table counts; percents bounded") {
    val metrics = result.metrics.as[MetricRow].collect()
    val totalEnt = metrics.find(m => m.metric == "total" && m.key == "entities").get.value
    assert(totalEnt == result.nodes.count().toDouble)
    metrics.filter(_.metric == "linked_percent").foreach { m =>
      assert(m.value >= 0.0 && m.value <= 100.0)
    }
    assert(metrics.exists(_.metric == "top10_predicates"))
  }
}
