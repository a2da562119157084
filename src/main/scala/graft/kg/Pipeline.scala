package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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

  /** The four outputs of a run. Both run modes build them with the same
    * stage graph, the same scrape placement ([[linkInputs]]) and the same
    * canonicalization input ([[ccInput]]); they differ only in how a stage
    * is kept: [[run]] persists it in memory, [[runMaterialized]] writes it
    * through [[KgTables.write]] and returns the re-read tables.
    *
    * `release()` unpersists every plan [[run]] cached (docOut, edges, flat
    * nodes, the statistics counter cache) — call it once the outputs are
    * materialized. The ONE block it deliberately excludes is the
    * localCheckpoint backing `components` (its lineage is truncated, so
    * dropping it would make the returned DataFrame unreadable; CC's
    * intermediate checkpoints clean themselves up). Callers that
    * bulk-clean via a getPersistentRDDs diff (bench reps, the streaming
    * foreachBatch) additionally reclaim that final block. Default no-op
    * keeps runMaterialized (which caches nothing — every stage is
    * table-backed) and test constructions unchanged. */
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

  /** In-memory run (tests, benchmarks): no table layer; every stage is
    * kept by an in-memory persist and the live DataFrames are returned. */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      cfg: KgConfig = KgConfig.default,
      runId: String = "local",
      prepared: Option[Linking.Prepared] = None): Result = {
    // ---- extract stage: fused map pass (E1-E3, R1-R4, D3, D6) ----
    // Cached as a DATAFRAME, not a typed Dataset: typed flatMap would
    // deserialize the whole DocOut row (including the fat scrape column)
    // in every consumer, while InMemoryRelation + Catalyst explode prunes
    // each branch to exactly the columns it reads.
    val docOut = KgExtract.run(spark, pages, dicts.aliases, dicts.patterns,
      dicts.wdPartOf, cfg, dicts.wdDesc, idf = Some(dicts.idf))
      .toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // edges are persisted NARROW: the statistics passes scan them twice
    val edges = docOut.select(explode(col("triples")).as("t")).select("t.*")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- link stage: Wikipedia → Wikidata → DBpedia dictionary joins ----
    // The link inputs are UNCACHED projections straight off the docOut
    // cache: the gated single-pass chain consumes them exactly once, so a
    // second (entities) cache would only add a BlockManager round-trip —
    // the round-2 scaling profile showed cache fill/read as the bound.
    val rec = new Linking.JoinRecorder
    val (entities, scrapes) = linkInputs(docOut, cfg)
    val prep = prepared.getOrElse(
      Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd, dicts.dbp,
        dicts.synonyms, cfg, rec))
    // nodes are persisted: statistics runs several aggregates over them and
    // must not re-execute the join chain per aggregate (runMaterialized's
    // table write serves the same purpose). The cache holds the FLAT link
    // output (Linking.linkFlat) with the nested user shape assembled on
    // top: the in-memory cache prunes only top-level columns and stores
    // structs as opaque blobs, so caching the nested shape made every
    // statistics read decompress the full fat payload (measured 3-4×
    // slower narrow fill at local[32]).
    val flat = Linking.linkFlat(spark, entities, prep,
      scrapes.getOrElse(spark.emptyDataFrame), cfg, rec)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = Linking.nest(flat)

    // ---- canonicalize: connected components over alias/redirect edges ----
    val components = ConnectedComponents.run(spark, ccInput(spark, dicts))

    // ---- statistics + lineage metrics ----
    // dictJoin path decisions (broadcast vs salted, with the size evidence)
    // are recorded at plan-construction time — surfaced as metric rows so
    // plan drift at scale is observable in the run output, not just in
    // executor logs
    val (stats, statsCaches) = Statistics.computeTracked(spark, nodes, edges,
      runId)
    val metrics = stats.unionByName(joinDecisionRows(spark, runId, rec))

    val cached = Seq(docOut, edges, flat) ++ statsCaches
    Result(nodes, edges, components, metrics,
      release = () => cached.foreach(_.unpersist()))
  }

  private def joinDecisionRows(spark: SparkSession, runId: String,
      rec: Linking.JoinRecorder): DataFrame = {
    import spark.implicits._
    rec.drain().map { d =>
      MetricRow(runId, "link_plan", s"dict_join_${d.path}", d.site,
        d.estBytes.toDouble)
    }.toDF()
  }

  /** Input fingerprint WITHOUT scanning the data (north_rule snapshot-based
    * resume): hash of the sorted input file listing when the input is
    * file-backed (the Iceberg-snapshot-id stand-in); otherwise a hash of
    * the canonicalized logical plan. The previous `pages.count()` was a
    * complete extra pass over the corpus — at 10^12 rows, a full scan spent
    * only on naming the run. The scrape-placement REGIME (broadcast:
    * p_extract carried on kg_entities, no kg_scrapes table; salted: narrow
    * kg_entities + kg_scrapes) is folded in too: the regimes write
    * different kg_entities schemas, so a config flip must invalidate the
    * extract stages instead of resuming into a mismatched layout (the L5
    * compat join would otherwise hit a missing p_url column, or silently
    * reuse the other regime's layout). */
  private def fingerprintOf(pages: Dataset[PageRow], cfg: KgConfig): String = {
    val files = pages.inputFiles
    val src = if (files.nonEmpty) files.sorted.mkString("\n")
              else s"plan:${pages.queryExecution.logical.semanticHash()}"
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val regime = if (cfg.forceSaltedJoins) "salted" else "carry"
    "in=" + md.digest(src.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString + s"+$regime"
  }

  /** Materializing run with snapshot/resume (SURVEY §7.4): each stage writes
    * parquet + manifest; a rerun with the same runId skips completed stages. */
  def runMaterialized(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      tables: KgTables,
      cfg: KgConfig = KgConfig.default,
      runId: String = "run1"): Result = {
    import spark.implicits._
    val fp = fingerprintOf(pages, cfg)

    val docOut = KgExtract.run(spark, pages, dicts.aliases, dicts.patterns,
      dicts.wdPartOf, cfg, dicts.wdDesc, idf = Some(dicts.idf))
    // scrape placement as in run (see linkInputs): the broadcast regime
    // writes no kg_scrapes table — one fewer full-corpus-width stage write
    // AND one fewer extract pass over the html
    val (entityRows, scrapeRows) = linkInputs(docOut.toDF(), cfg)
    val entities = tables.write(entityRows,
      "kg_entities", runId, "extract_entities", fp)
    val edgesRaw = tables.write(docOut.flatMap(_.triples).toDF(), "kg_edges",
      runId, "extract_edges", fp, partitionBy = Seq("inferred"))
    val scrapes = scrapeRows.fold(spark.emptyDataFrame)(
      tables.write(_, "kg_scrapes", runId, "extract_scrapes", fp))

    val rec = new Linking.JoinRecorder
    val nodes = tables.write(
      Linking.linkAll(spark, entities,
        Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd,
          dicts.dbp, dicts.synonyms, cfg, rec),
        scrapes, cfg, rec),
      "kg_nodes", runId, "link", fp)

    val components = tables.write(
      ConnectedComponents.run(spark, ccInput(spark, dicts)),
      "kg_components", runId, "canonicalize", fp)

    val metrics = tables.write(
      Statistics.compute(spark, nodes, edgesRaw, runId)
        .unionByName(tables.partitionLineage(edgesRaw, runId, "extract_edges"))
        .unionByName(joinDecisionRows(spark, runId, rec)),
      "kg_metrics", runId, "metrics", fp)

    Result(nodes, edgesRaw, components, metrics)
  }
}
