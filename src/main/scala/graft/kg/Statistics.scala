package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Run statistics (SURVEY §2.7 A1-A10) as grouped aggregations over the
  * node/edge tables — the Spark form of context_statistics.py:30-187 and
  * context_statistics_top10.py. Emitted as a long-format metrics DataFrame
  * (run_id, stage, metric, key, value) so the same sink carries lineage
  * counts (north_rule: per-partition lineage rows + metrics).
  *
  * The whole computation is ONE lazy plan built from TWO data passes
  * (no driver collects, no eager jobs):
  *   1. one scalar aggregate over nodes (totals + linked counts/percents),
  *   2. ONE fused counter pass: the node-side explode (six counter
  *      families), the edge-side explode (predicates + inference ratios)
  *      and the symmetric entity-connections pairs union into a single
  *      (metric, key, sub) stream aggregated by one two-phase groupBy
  *      (sub = neighbor for entity_connections, null elsewhere — the
  *      second phase collapses it into a distinct-neighbor count) and
  *      ranked by one window; the tiny grouped result is persisted so the
  *      top-10/percent projection and the relationship total read it
  *      without recomputing the scans.
  * The round-1 version ran ~9 separate branch scans and round-3 still ran
  * four (the per-subtree driver scheduling + AQE re-planning was the
  * measured thread-invariant ~4-8 s floor that capped 8→32 scaling).
  * The caller is expected to have `nodesFull` persisted.
  */
object Statistics {

  def compute(spark: SparkSession, nodesFull: DataFrame, edges: DataFrame,
      runId: String): DataFrame =
    computeTracked(spark, nodesFull, edges, runId)._1

  /** Like [[compute]], but also returns the plans this call PERSISTED
    * (the tiny grouped counter table), so the caller can unpersist them
    * once the metrics are materialized — compute() itself cannot: the
    * returned plan is lazy and the cache exists precisely to serve its
    * eventual execution. Callers that invoke compute repeatedly in one
    * session (bench reps, per-query oracles) must release, or each call
    * leaks its cache for the session lifetime. The node projection is NOT
    * persisted: only one pass (counters) reads the fat array columns, so
    * re-encoding them into a second cache costs more than the single
    * pruned read of the caller's node cache or parquet it saves. */
  def computeTracked(spark: SparkSession, nodesFull: DataFrame,
      edges: DataFrame, runId: String): (DataFrame, Seq[DataFrame]) = {

    // Every array is coalesced HERE: pass 2 concat()s them into one explode,
    // and Spark's concat returns NULL if ANY input array is NULL — a single
    // null array (e.g. instance_of on a wd_status=not_found node) would
    // silently erase the row from every counter family in the pass.
    // NO higher-order functions anywhere in this projection: transform/
    // filter are CodegenFallback (interpreted per element) — at 10^6 pages
    // the interpreted evals dominated the whole stats stage (thread-dump
    // verified). Gating and the P11 label projection are plain codegen'd
    // conditionals applied before/after the explode instead.
    def arr(c: Column): Column = coalesce(c, array().cast("array<string>"))
    // DBpedia families count only status=="linked" rows —
    // context_statistics_top10.py:217-370 (P11 applied post-explode)
    def dbpArr(c: Column): Column =
      when(col("sources.dbpedia.status") === "linked", arr(c))
        .otherwise(array().cast("array<string>"))
    val nodes = nodesFull.select(
      col("details.typ").as("typ"),
      col("details.inferred").as("ent_inferred"),
      col("sources.wikipedia.status").as("wp_status"),
      col("sources.wikidata.status").as("wd_status"),
      col("sources.dbpedia.status").as("dbp_status"),
      col("sources.wikipedia.fallback_source").as("wp_fallback"),
      col("sources.dbpedia.fallback_source").as("dbp_fb"),
      arr(col("sources.wikipedia.categories")).as("categories"),
      arr(col("sources.wikipedia.internal_links")).as("internal_links"),
      arr(col("sources.wikidata.instance_of.label")).as("inst_labels"),
      arr(col("sources.wikidata.subclass_of.label")).as("subclass_labels"),
      arr(col("sources.wikidata.part_of.label")).as("partof_labels"),
      arr(col("sources.wikidata.has_part.label")).as("haspart_labels"),
      dbpArr(col("sources.dbpedia.types")).as("dbp_types"),
      dbpArr(col("sources.dbpedia.categories")).as("dbp_categories"),
      dbpArr(col("sources.dbpedia.subjects")).as("dbp_subjects"),
      dbpArr(col("sources.dbpedia.part_of")).as("dbp_partof"),
      dbpArr(col("sources.dbpedia.has_part")).as("dbp_haspart"))

    def row(metric: Column, key: Column, value: Column): Column =
      struct(metric.cast("string").as("metric"), key.cast("string").as("key"),
        value.cast("double").as("value"))

    // ---- pass 1: A1 + A3 + A8-entities in ONE aggregate — totals, linked
    // counts + percents (DBpedia counts only status=="linked",
    // wikipedia/wikidata count found — context_statistics.py:44-48,
    // :114-152) and the entity_inference count/percent pair
    // (context_statistics_top10.py:454-480). Percent rounding parity: the
    // reference's Python round(.,1) is banker's rounding → bround.
    def pct(c: Column) = when(col("total") === 0, 0.0)
      .otherwise(bround(lit(100.0) * c / col("total"), 1))
    val linked = nodes.agg(
        count(lit(1)).cast("double").as("total"),
        sum(when(col("wp_status") === "found", 1.0).otherwise(0.0)).as("wp"),
        sum(when(col("wd_status") === "found", 1.0).otherwise(0.0)).as("wd"),
        sum(when(col("dbp_status") === "linked", 1.0).otherwise(0.0)).as("dbp"),
        sum(when(col("ent_inferred") === "implicit", 1.0).otherwise(0.0)).as("ent_impl"))
      .withColumn("ent_expl", col("total") - col("ent_impl"))
      .select(explode(array(
        row(lit("total"), lit("entities"), col("total")),
        row(lit("linked_count"), lit("wikipedia"), col("wp")),
        row(lit("linked_count"), lit("wikidata"), col("wd")),
        row(lit("linked_count"), lit("dbpedia"), col("dbp")),
        row(lit("linked_percent"), lit("wikipedia"), pct(col("wp"))),
        row(lit("linked_percent"), lit("wikidata"), pct(col("wd"))),
        row(lit("linked_percent"), lit("dbpedia"), pct(col("dbp"))),
        row(lit("entity_inference"), lit("explicit"), col("ent_expl")),
        row(lit("entity_inference"), lit("implicit"), col("ent_impl")),
        row(lit("entity_inference_percent"), lit("explicit"), pct(col("ent_expl"))),
        row(lit("entity_inference_percent"), lit("implicit"), pct(col("ent_impl"))))).as("m"))
      .select("m.*")

    // ---- pass 2 (fused counters): all node-side counters, edge-side
    // counters and entity_connections in ONE union → ONE two-phase
    // groupBy → ONE rank window.
    // A2 types_distribution ("Unknown" default — :106-112), A10 fallback
    // distributions (wikipedia/service.py:786-931 batch stats), A4/A5/A6
    // top-10 exploded counters (tie-break: count desc, key asc —
    // context_statistics_top10.py:56; rank filter only on top10_* metrics).
    //
    // Codegen shape: ONE posexplode over a concat of the RAW string arrays;
    // the metric name is recovered from the POSITION against cumulative
    // family sizes with a when-chain — every expression here compiles into
    // whole-stage codegen (the obvious transform-into-struct tagging is an
    // interpreted HOF per element and was the dominant stats cost).
    val families: Seq[(String, Column)] = Seq(
      "types_distribution" -> array(coalesce(col("typ"), lit("Unknown"))),
      "wikipedia_fallback_dist" -> array(coalesce(col("wp_fallback"), lit("none"))),
      "dbpedia_fallback_dist" -> array(coalesce(col("dbp_fb"), lit("none"))),
      "top10_categories" -> col("categories"),
      "top10_internal_links" -> col("internal_links"),
      "top10_instance_of" -> col("inst_labels"),
      "top10_subclass_of" -> col("subclass_labels"),
      "top10_part_of" -> col("partof_labels"),
      "top10_has_part" -> col("haspart_labels"),
      "top10_dbpedia_types" -> col("dbp_types"),
      "top10_dbpedia_categories" -> col("dbp_categories"),
      "top10_dbpedia_subjects" -> col("dbp_subjects"),
      "top10_dbpedia_part_of" -> col("dbp_partof"),
      "top10_dbpedia_has_part" -> col("dbp_haspart"))
    // cumulative upper boundary of each family within the concatenated
    // row, materialized ONCE per node as scalar columns BEFORE the explode
    // (inlining the cumulative size sums into the per-row when-chain
    // re-evaluated O(families²) size()+array constructions per exploded
    // row — measured 5x slower than the HOF version it replaced)
    val bounds: Seq[Column] = families.map(_._2)
      .scanLeft(lit(0): Column)((acc, c) => acc + size(c)).tail
    // P11 applies to the dbpedia families only; derive their start from the
    // families list itself (a hard-coded bound column silently shifted when
    // a family was inserted/reordered) and require they form the tail —
    // the bound is a single cumulative-position comparison.
    val dbpStart = families.indexWhere(_._1.startsWith("top10_dbpedia"))
    require(dbpStart > 0 &&
      families.drop(dbpStart).forall(_._1.startsWith("top10_dbpedia")),
      "dbpedia families must be the contiguous tail of the families list")
    val metricOfPos: Column = families.map(_._1).zipWithIndex
      .foldLeft(Option.empty[Column]) { case (acc, (name, i)) =>
        val cond = col("pos") < col(s"__b$i")
        Some(acc.fold(when(cond, name))(_.when(cond, name)))
      }.get
    // `sub` is the second-phase grouping refinement: the neighbor id for
    // entity_connections (phase 2 counts DISTINCT subs per key), null for
    // every counting family (phase 2 passes the phase-1 count through).
    val nullSub = lit(null).cast("string").as("sub")
    val nodeExploded = nodes
      .select(col("*") +:
        bounds.zipWithIndex.map { case (b, i) => b.as(s"__b$i") }: _*)
      .select(col("*"),
        posexplode(concat(families.map(_._2): _*)).as(Seq("pos", "rawkey")))
      .select(metricOfPos.as("metric"),
        // P11 label projection for the dbpedia families, post-explode on
        // the scalar (codegen'd regexps) — context_statistics_top10.py:234
        when(col("pos") >= col(s"__b${dbpStart - 1}"), Linking.labelFromUri(col("rawkey")))
          .otherwise(col("rawkey")).as("key"))
      // a null key = a referenced id whose label did not resolve in the
      // dictionary; the reference skips label-less references
      // (context_statistics_top10.py:115-121)
      .filter(col("key").isNotNull)
      .select(col("metric"), col("key"), nullSub)
    // A7 top-10 predicates + A8 inference counters (one edges scan) and
    // A9 entity_connections symmetric pairs (same scan, second explode
    // entry pair) — context_statistics.py:177-184, top10.py:380-420
    val edgeExploded = edges.select(explode(array(
        struct(lit("top10_predicates").as("metric"),
          col("predicate").as("key"), nullSub),
        struct(lit("relationships_inferred").as("metric"),
          lower(col("inferred")).as("key"), nullSub),
        struct(lit("entity_connections").as("metric"),
          col("subject").as("key"), col("object").as("sub")),
        struct(lit("entity_connections").as("metric"),
          col("object").as("key"), col("subject").as("sub")))).as("mk"))
      .select("mk.*")
    // Two-phase aggregate: phase 1 dedups (metric, key, sub) — for
    // entity_connections that IS the distinct-neighbor set; phase 2
    // collapses sub (count rows for connections, sum counts elsewhere).
    // The grouped result is TINY (counter keys, not data rows) and feeds
    // three consumers (rank/percent projection, relationship total), so it
    // is persisted — without it each consumer would re-run the full union.
    val grouped = nodeExploded.unionByName(edgeExploded)
      .groupBy("metric", "key", "sub").agg(count(lit(1)).as("c"))
      .groupBy("metric", "key")
      .agg(sum("c").as("s"), count(lit(1)).as("d"))
      .select(col("metric"), col("key"),
        when(col("metric") === "entity_connections", col("d"))
          .otherwise(col("s")).cast("double").as("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // rank filter applies to the top10_* families AND entity_connections
    // (its reference output is the top 10 by count desc, key asc);
    // relationship_inference percent pair (context_statistics.py:177-184)
    // derived from the grouped rows via a window sum — no extra scan
    val counters = grouped
      .withColumn("rk", row_number().over(
        Window.partitionBy("metric").orderBy(col("value").desc, col("key").asc)))
      .filter(!(col("metric").startsWith("top10_") ||
        col("metric") === "entity_connections") || col("rk") <= 10)
      .withColumn("tot", sum(when(col("metric") === "relationships_inferred",
        col("value"))).over(Window.partitionBy(lit(1))))
      .select(explode(when(col("metric") === "relationships_inferred", array(
          row(col("metric"), col("key"), col("value")),
          row(lit("relationships_inferred_percent"), col("key"),
            bround(lit(100.0) * col("value") / col("tot"), 1))))
        .otherwise(array(row(col("metric"), col("key"), col("value"))))).as("m"))
      .select("m.*")
    val relTotal = grouped
      .filter(col("metric") === "relationships_inferred")
      .agg(coalesce(sum("value"), lit(0.0)).as("c"))
      .select(row(lit("total"), lit("relationships"), col("c")).as("m"))
      .select("m.*")

    val df = Seq(linked, counters, relTotal)
      .reduce(_.unionByName(_))
      .select(lit(runId).as("run_id"), lit("stats").as("stage"),
        col("metric"), col("key"), col("value"))
    (df, Seq(grouped))
  }
}
