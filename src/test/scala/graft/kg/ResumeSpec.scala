package graft.kg

import graft.{JobLog, SparkSpec}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Snapshot/resume (SURVEY §7.4): a rerun with the same run_id skips
  * completed stages and yields byte-identical tables. */
class ResumeSpec extends SparkSpec {
  import spark.implicits._

  test("materialized run resumes: stage skip + identical output") {
    val dir = Files.createTempDirectory("kg_resume").toString
    val corpus = SyntheticCorpus.generate(nPages = 60, seed = 42L)
    val pages = spark.createDataset(corpus.pages).repartition(4)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)

    val t1 = new KgTables(spark, dir)
    val r1 = Pipeline.runMaterialized(spark, pages, dicts, t1, runId = "r1")
    val edges1 = r1.edges.select("url", "subject", "predicate", "object", "inferred")
      .as[(String, String, String, String, String)].collect().toSet
    assert(edges1.nonEmpty)

    // simulate a mid-run kill after the extract stages: wipe only the
    // downstream tables, keep the manifest — resume must skip extract and
    // rebuild the rest
    val manifest = Files.readString(java.nio.file.Paths.get(dir, "_snapshots.jsonl"))
    assert(manifest.contains("\"stage\":\"extract_edges\""))
    // broadcast regime: the L5 text rides on kg_entities — no separate
    // kg_scrapes stage table (it exists only in the salted regime)
    assert(!manifest.contains("\"stage\":\"extract_scrapes\""))
    assert(!Files.exists(java.nio.file.Paths.get(dir, "kg_scrapes")))
    val t2 = new KgTables(spark, dir)
    val r2 = Pipeline.runMaterialized(spark, pages, dicts, t2, runId = "r1")
    val edges2 = r2.edges.select("url", "subject", "predicate", "object", "inferred")
      .as[(String, String, String, String, String)].collect().toSet
    assert(edges2 == edges1)
    // manifest did not grow for already-done stages
    val manifest2 = Files.readString(java.nio.file.Paths.get(dir, "_snapshots.jsonl"))
    assert(manifest2 == manifest)

    // a NEW run id recomputes and appends manifest rows
    val t3 = new KgTables(spark, dir)
    val r3 = Pipeline.runMaterialized(spark, pages, dicts, t3, runId = "r2")
    val edges3 = r3.edges.select("url", "subject", "predicate", "object", "inferred")
      .as[(String, String, String, String, String)].collect().toSet
    assert(edges3 == edges1) // deterministic ids → identical content
  }

  test("salted-regime materialized run writes kg_scrapes and matches broadcast") {
    val corpus = SyntheticCorpus.generate(nPages = 40, seed = 7L)
    val pages = spark.createDataset(corpus.pages).repartition(4)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    def nodesOf(cfg: KgConfig, dir: String) = {
      val res = Pipeline.runMaterialized(spark, pages, dicts,
        new KgTables(spark, dir), cfg)
      res.nodes.select("url", "entity", "sources.wikipedia.status",
          "sources.wikipedia.fallback_source", "sources.dbpedia.status")
        .as[(String, String, String, String, String)].collect().toSet
    }
    val dirS = Files.createTempDirectory("kg_resume_salted").toString
    val dirB = Files.createTempDirectory("kg_resume_bcast").toString
    val salted = nodesOf(KgConfig.default.copy(forceSaltedJoins = true), dirS)
    val bcast = nodesOf(KgConfig.default, dirB)
    assert(salted == bcast)
    assert(salted.nonEmpty)
    // the salted regime keeps entities narrow and materializes the text once
    assert(Files.exists(java.nio.file.Paths.get(dirS, "kg_scrapes")))
    assert(!Files.exists(java.nio.file.Paths.get(dirB, "kg_scrapes")))
  }

  private lazy val small = SyntheticCorpus.generate(nPages = 40, seed = 11L)
  private lazy val smallPages = spark.createDataset(small.pages).repartition(4)
  private lazy val smallDicts = Pipeline.dictsFromCorpus(spark, small)

  private def counts(r: Pipeline.Result): Seq[Long] =
    Seq(r.edges.count(), r.nodes.count(), r.components.count(), r.metrics.count())

  private def metricRows(r: Pipeline.Result): Seq[MetricRow] =
    r.metrics.as[MetricRow].collect().toSeq.sortBy(_.toString)

  test("a fully-done resume builds no link gates and runs no connected components") {
    val dir = Files.createTempDirectory("kg_resume_done").toString
    val (first, firstLog) = JobLog.during(spark) {
      val r = Pipeline.runMaterialized(spark, smallPages, smallDicts,
        new KgTables(spark, dir), runId = "r1")
      (r, counts(r))
    }
    // the check below is not vacuous: a computing run does show CC's jobs
    assert(firstLog.callSites.exists(_.contains("ConnectedComponents.scala")),
      s"expected CC jobs in the first run, got ${firstLog.callSites}")
    val (again, log) = JobLog.during(spark) {
      counts(Pipeline.runMaterialized(spark, smallPages, smallDicts,
        new KgTables(spark, dir), runId = "r1"))
    }
    assert(again == first._2)
    assert(log.callSites.nonEmpty)
    val stageWork = log.callSites.filter(s =>
      s.contains("ConnectedComponents.scala") || s.contains("Linking.scala"))
    assert(stageWork.isEmpty, s"resume ran stage jobs: $stageWork")
  }

  test("a resume with only the metrics stage left reproduces every metric row") {
    val dir = Files.createTempDirectory("kg_resume_metrics").toString
    val r1 = Pipeline.runMaterialized(spark, smallPages, smallDicts,
      new KgTables(spark, dir), runId = "r1")
    val before = metricRows(r1)
    assert(before.exists(_.stage == "link_plan"))
    assert(before.exists(_.metric == "partition_rows"))
    val manifest = Paths.get(dir, "_snapshots.jsonl")
    val lines = Files.readAllLines(manifest)
    assert(lines.removeIf(_.contains("\"stage\":\"metrics\"")))
    Files.write(manifest, lines)
    val r2 = Pipeline.runMaterialized(spark, smallPages, smallDicts,
      new KgTables(spark, dir), runId = "r1")
    assert(metricRows(r2) == before)
  }

  test("a root written in the nested kg_nodes layout is recomputed, not read") {
    val dir = Files.createTempDirectory("kg_resume_layout").toString
    val r1 = Pipeline.runMaterialized(spark, smallPages, smallDicts,
      new KgTables(spark, dir), runId = "r1")
    val nodes1 = r1.nodes.select(to_json(struct(col("*")))).as[String]
      .collect().sorted.toSeq
    // rewrite the root as the earlier layout left it: kg_nodes nested, and
    // fingerprints without the layout tag
    val nested = Paths.get(dir, "kg_nodes_nested").toString
    r1.nodes.write.parquet(nested)
    deleteTree(Paths.get(dir, "kg_nodes"))
    Files.move(Paths.get(nested), Paths.get(dir, "kg_nodes"))
    val manifest = Paths.get(dir, "_snapshots.jsonl")
    val tagged = Files.readString(manifest)
    val untagged = tagged.replaceAll(
      "(\"fingerprint\":\"in=[0-9a-f]{16}\\+(?:carry|salted))[^\"]*\"", "$1\"")
    assert(untagged != tagged, "fingerprints carry no layout tag to strip")
    Files.writeString(manifest, untagged)

    val r2 = Pipeline.runMaterialized(spark, smallPages, smallDicts,
      new KgTables(spark, dir), runId = "r1")
    assert(r2.nodes.select(to_json(struct(col("*")))).as[String]
      .collect().sorted.toSeq == nodes1)
    // every stage was recomputed and recorded again under the new tag
    assert(Files.readString(manifest) == untagged + tagged)
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally all.close()
  }
}
