package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** End-to-end KG construction: pages → extract → link → relate →
  * canonicalize → materialize (north_star stage graph; reference lifecycle
  * core/process/orchestrator.py:143-355 re-expressed as pure
  * DataFrame → DataFrame stages — SURVEY §3.1).
  */
object Pipeline {

  /** Driver-side dictionary bundle. `wdPartOf`/`wdDesc`/`idf` are the
    * BOUNDED link tables from [[KgExtract.boundedLinkTables]]: part_of
    * restricted to alias-table qids, descriptions to ambiguous surfaces'
    * candidates, idf the distributed-df vocabulary map — driver memory
    * O(gazetteer + vocabulary), not O(all dictionary entities). */
  final case class Dicts(
      aliases: Seq[AliasRow],
      patterns: Seq[PatternRow],
      wiki: DataFrame,
      redirects: DataFrame,
      wd: DataFrame,
      dbp: DataFrame,
      synonyms: DataFrame,
      wdPartOf: Map[String, Set[String]],
      wdDesc: Map[String, String],
      idf: Map[String, Double])

  /** The four outputs of a run. [[run]] and [[runMaterialized]] build them
    * with ONE stage list: the same single extract pass, scrape placement
    * ([[linkInputs]]), flat link output with [[Linking.nest]] as the one
    * nested view on top, canonicalization input ([[ccInput]]) and metrics
    * (statistics ∪ partition lineage of the edges ∪ `link_plan` rows). The
    * modes differ only in how a stage is kept: [[run]] persists the frames
    * later stages read more than once, [[runMaterialized]] writes each stage
    * through [[KgTables.write]] and returns the re-read tables.
    *
    * `release()` unpersists every plan the call cached (docOut, edges, flat
    * nodes, the statistics counter cache) — call it once the outputs are
    * materialized. With tables those caches are already dropped as soon as
    * the tables that read them are written, so it frees nothing more there.
    * The ONE block it deliberately excludes is the localCheckpoint backing
    * an in-memory `components` (its lineage is truncated, so dropping it
    * would make the returned DataFrame unreadable; CC's intermediate
    * checkpoints clean themselves up). Callers that bulk-clean via a
    * getPersistentRDDs diff (bench reps, the streaming foreachBatch)
    * additionally reclaim that final block. The default no-op serves test
    * constructions. */
  final case class Result(nodes: DataFrame, edges: DataFrame,
      components: DataFrame, metrics: DataFrame,
      release: () => Unit = () => ())

  def dictsFromCorpus(spark: SparkSession, c: SyntheticCorpus.Corpus): Dicts = {
    import spark.implicits._
    val wd = c.wdEntities.toDF()
    val lt = KgExtract.boundedLinkTables(spark, wd, c.aliases)
    Dicts(
      aliases = c.aliases,
      patterns = c.patterns,
      wiki = c.wikiPages.toDF(),
      redirects = c.redirects.toDF(),
      wd = wd,
      dbp = c.dbpedia.toDF(),
      synonyms = c.synonyms.toDF(),
      wdPartOf = lt.partOf,
      wdDesc = lt.descByQid,
      idf = lt.idf)
  }

  /** Dictionary artifacts for the link stage, built once per deployment
    * (static data) and reusable across runs; persisted AND materialized so
    * later runs never pay the build. */
  def prepareLink(spark: SparkSession, dicts: Dicts,
      cfg: KgConfig = KgConfig.default): Linking.Prepared = {
    val p = Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd,
      dicts.dbp, dicts.synonyms, cfg).persistAll()
    p.all.foreach(_.count())
    p
  }

  /** Scrape placement: maps the extract output to the link stage's
    * `(entities, scrapes)` inputs.
    *
    * Broadcast regime (the small-dictionary gate outcome): each entity row
    * carries its document's `p_extract` (the L5 scrape text) — zero L5
    * join, zero shuffle, and no fat column ever moves (broadcast joins
    * don't shuffle the probe); the text is duplicated per entity (~3x) in
    * exchange, and there is no scrapes input.
    * Salted regime (forceSaltedJoins — the at-scale shape where every
    * dictionary exceeds the broadcast budget): every dictJoin SHUFFLES the
    * probe side, so carrying the page text would drag it through all nine
    * salted exchanges. There the entity rows stay NARROW and the text is
    * kept once per page, re-attached by ONE unsalted shuffle-hash join at
    * L5 (Linking.wikipedia compat path) — it crosses the wire exactly once. */
  private def linkInputs(docOut: DataFrame, cfg: KgConfig)
      : (DataFrame, Option[DataFrame]) = {
    val pExtract = when(length(col("scrape")) > 0, col("scrape")).as("p_extract")
    if (cfg.forceSaltedJoins)
      (docOut.select(explode(col("entities")).as("e")).select("e.*"),
        Some(docOut.select(col("url").as("p_url"), pExtract)))
    else
      (docOut.select(pExtract, explode(col("entities")).as("e"))
        .select(col("e.*"), col("p_extract")), None)
  }

  /** Canonicalization input: alias → canonical and redirect edges. */
  private def ccInput(spark: SparkSession, dicts: Dicts): DataFrame = {
    import spark.implicits._
    spark.createDataset(dicts.aliases.map(a => (a.alias, a.canonical)))
      .toDF("src", "dst")
      .union(dicts.redirects.select(col("from_title").as("src"),
        col("to_title").as("dst")))
  }

  /** In-memory run (tests, benchmarks): no table layer; the live
    * DataFrames are returned. */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      cfg: KgConfig = KgConfig.default,
      runId: String = "local",
      prepared: Option[Linking.Prepared] = None): Result =
    stages(spark, pages, dicts, cfg, runId, prepared, tables = None)

  /** Materializing run with snapshot/resume (SURVEY §7.4): each stage writes
    * parquet + manifest; a rerun with the same runId skips completed stages
    * without building their plans. */
  def runMaterialized(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      tables: KgTables,
      cfg: KgConfig = KgConfig.default,
      runId: String = "run1"): Result =
    stages(spark, pages, dicts, cfg, runId, prepared = None, Some(tables))

  /** The stage list of both run modes: extract → link → canonicalize →
    * metrics. The mode decides only how a stage is kept (`keep`) and, with
    * tables, that a cache is dropped once the tables reading it are
    * written. */
  private def stages(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      cfg: KgConfig,
      runId: String,
      prepared: Option[Linking.Prepared],
      tables: Option[KgTables]): Result = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = {
      cached += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }
    def release(): Unit = { cached.foreach(_.unpersist()); cached.clear() }
    lazy val fp = fingerprintOf(pages, cfg)
    /** Keeps one stage's output. With tables: written through
      * [[KgTables.write]], which evaluates `body` only for a stage that is
      * not done yet, and the re-read table returned. In memory: persisted
      * when later stages read it more than once (`reread`), otherwise passed
      * through lazily. */
    def keep(table: String, stage: String, reread: Boolean = false,
        partitionBy: Seq[String] = Nil)(body: => DataFrame): DataFrame =
      tables.fold(if (reread) cache(body) else body)(
        _.write(body, table, runId, stage, fp, partitionBy))

    // ---- extract stage: fused map pass (E1-E3, R1-R4, D3, D6), run once ----
    // Cached as a DATAFRAME, not a typed Dataset: typed flatMap would
    // deserialize the whole DocOut row (including the fat scrape column)
    // in every consumer, while InMemoryRelation + Catalyst explode prunes
    // each branch to exactly the columns it reads. With tables the cache
    // feeds the two or three extract tables and is dropped once they are
    // written. The link inputs are UNCACHED projections off it: the gated
    // single-pass chain consumes them exactly once, so a second (entities)
    // cache would only add a BlockManager round-trip — the round-2 scaling
    // profile showed cache fill/read as the bound.
    lazy val docOut = cache(KgExtract.run(spark, pages, dicts.aliases,
      dicts.patterns, dicts.wdPartOf, cfg, dicts.wdDesc, idf = Some(dicts.idf))
      .toDF())
    lazy val (entityRows, scrapeRows) = linkInputs(docOut, cfg)
    val entities = keep("kg_entities", "extract_entities")(entityRows)
    // the statistics passes and the lineage read the edges more than once
    val edges = keep("kg_edges", "extract_edges", reread = true,
      partitionBy = Seq("inferred"))(
      docOut.select(explode(col("triples")).as("t")).select("t.*"))
    val scrapes =
      if (!cfg.forceSaltedJoins) spark.emptyDataFrame
      else keep("kg_scrapes", "extract_scrapes")(scrapeRows.get)
    if (tables.nonEmpty) release()

    // ---- link stage: Wikipedia → Wikidata → DBpedia dictionary joins ----
    // The plan is a lazy value: a done link stage builds no dictJoin gates,
    // and the metrics stage forces it so its link_plan rows stay complete.
    // What is kept is the FLAT link output, with the nested user shape
    // assembled on top (Linking.linkFlat says why).
    val rec = new Linking.JoinRecorder
    lazy val linkPlan = Linking.linkFlat(spark, entities,
      prepared.getOrElse(Linking.prepare(spark, dicts.wiki, dicts.redirects,
        dicts.wd, dicts.dbp, dicts.synonyms, cfg, rec)),
      scrapes, cfg, rec)
    val nodes = Linking.nest(keep("kg_nodes", "link", reread = true)(linkPlan))

    // ---- canonicalize: connected components over alias/redirect edges ----
    val components = keep("kg_components", "canonicalize")(
      ConnectedComponents.run(spark, ccInput(spark, dicts)))

    // ---- statistics + lineage metrics ----
    // dictJoin path decisions (broadcast vs salted, with the size evidence)
    // are recorded at plan-construction time — surfaced as metric rows so
    // plan drift at scale is observable in the run output, not just in
    // executor logs
    val metrics = keep("kg_metrics", "metrics") {
      linkPlan // after a resumed link stage: records its decisions now
      val (stats, statsCaches) = Statistics.computeTracked(spark, nodes, edges,
        runId)
      cached ++= statsCaches
      stats.unionByName(partitionLineage(edges, runId))
        .unionByName(joinDecisionRows(spark, runId, rec))
    }
    if (tables.nonEmpty) release()
    Result(nodes, edges, components, metrics, release _)
  }

  private def joinDecisionRows(spark: SparkSession, runId: String,
      rec: Linking.JoinRecorder): DataFrame = {
    import spark.implicits._
    rec.drain().map { d =>
      MetricRow(runId, "link_plan", s"dict_join_${d.path}", d.site,
        d.estBytes.toDouble)
    }.toDF()
  }

  /** Per-partition lineage rows (north_rule): partition id → row count of
    * the edges, recorded into the metrics. */
  private def partitionLineage(edges: DataFrame, runId: String): DataFrame =
    edges.select(spark_partition_id().as("pid"))
      .groupBy("pid").agg(count(lit(1)).as("rows"))
      .select(lit(runId).as("run_id"), lit("extract_edges").as("stage"),
        lit("partition_rows").as("metric"), col("pid").cast("string").as("key"),
        col("rows").cast("double").as("value"))

  /** On-disk table layout, folded into the resume fingerprint: a root
    * written in another layout must be recomputed, not read. Untagged
    * fingerprints are the layout with a NESTED kg_nodes table; `layout=2`
    * keeps kg_nodes flat. Bump it whenever a table's schema changes. */
  private val TableLayout = "layout=2"

  /** Input fingerprint WITHOUT scanning the data (north_rule snapshot-based
    * resume): hash of the sorted input file listing when the input is
    * file-backed (the Iceberg-snapshot-id stand-in); otherwise a hash of
    * the canonicalized logical plan. The previous `pages.count()` was a
    * complete extra pass over the corpus — at 10^12 rows, a full scan spent
    * only on naming the run. The scrape-placement REGIME (broadcast:
    * p_extract carried on kg_entities, no kg_scrapes table; salted: narrow
    * kg_entities + kg_scrapes) and the [[TableLayout]] are folded in too:
    * both change what a table holds, so a flip must invalidate the stages
    * instead of resuming into a mismatched layout (the L5 compat join would
    * otherwise hit a missing p_url column, or `nest` a missing flat
    * column). */
  private def fingerprintOf(pages: Dataset[PageRow], cfg: KgConfig): String = {
    val files = pages.inputFiles
    val src = if (files.nonEmpty) files.sorted.mkString("\n")
              else s"plan:${pages.queryExecution.logical.semanticHash()}"
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val regime = if (cfg.forceSaltedJoins) "salted" else "carry"
    "in=" + md.digest(src.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString + s"+$regime+$TableLayout"
  }
}
