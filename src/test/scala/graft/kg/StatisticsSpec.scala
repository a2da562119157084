package graft.kg

import graft.SparkSpec

/** Statistics (A1-A10) over a hand-built node/edge fixture with known
  * counts — including the null-array regression (a wd_status=not_found
  * node whose instance_of is NULL must still count in every other
  * family), banker's-rounding percent parity, and the A5/A6/A8 families
  * added in round 3. */
class StatisticsSpec extends SparkSpec {

  private lazy val metrics: Map[(String, String), Double] = {
    // 400 nodes: id=0 has NO wikidata link (null arrays) and a null type;
    // ids 0..48 are implicit (49/400 = 12.25% → bankers 12.2); dbpedia
    // linked on even ids only (200)
    val nodes = spark.range(400).selectExpr(
      """named_struct(
           'typ', CASE WHEN id = 0 THEN CAST(NULL AS STRING) ELSE 'Person' END,
           'inferred', CASE WHEN id < 49 THEN 'implicit' ELSE 'explicit' END
         ) AS details""",
      """named_struct(
           'wikipedia', named_struct(
             'status', 'found',
             'fallback_source', CAST(NULL AS STRING),
             'categories', CASE WHEN id = 0 THEN CAST(NULL AS ARRAY<STRING>)
                ELSE array('KatA') END,
             'internal_links', array('LinkA')),
           'wikidata', named_struct(
             'status', CASE WHEN id = 0 THEN 'not_found' ELSE 'found' END,
             'instance_of', CASE
                WHEN id = 0 THEN CAST(NULL AS ARRAY<STRUCT<id:STRING,label:STRING>>)
                WHEN id = 1 THEN array(named_struct('id', 'QX', 'label', CAST(NULL AS STRING)))
                ELSE array(named_struct('id', 'Q5', 'label', 'Mensch')) END,
             'subclass_of', CASE WHEN id = 0 THEN CAST(NULL AS ARRAY<STRUCT<id:STRING,label:STRING>>)
                WHEN id = 2 THEN array(named_struct('id', 'Q1', 'label', 'Klasse'))
                ELSE CAST(array() AS ARRAY<STRUCT<id:STRING,label:STRING>>) END,
             'part_of', CASE WHEN id = 0 THEN CAST(NULL AS ARRAY<STRUCT<id:STRING,label:STRING>>)
                WHEN id < 10 THEN array(named_struct('id', 'Q2', 'label', 'Gruppe'))
                ELSE CAST(array() AS ARRAY<STRUCT<id:STRING,label:STRING>>) END,
             'has_part', CASE WHEN id = 3 THEN array(named_struct('id', 'Q3', 'label', 'Teil'))
                ELSE CAST(array() AS ARRAY<STRUCT<id:STRING,label:STRING>>) END),
           'dbpedia', named_struct(
             'status', CASE WHEN id % 2 = 0 THEN 'linked' ELSE 'not_found' END,
             'fallback_source', CAST(NULL AS STRING),
             'types', array('http://dbpedia.org/resource/TypeA'),
             'categories', array('http://dbpedia.org/resource/Category:Cat_A'),
             'subjects', array('http://dbpedia.org/resource/Category:Subj_A'),
             'part_of', CASE WHEN id = 0 THEN array('http://dbpedia.org/resource/Whole_Thing')
                ELSE CAST(array() AS ARRAY<STRING>) END,
             'has_part', CAST(array() AS ARRAY<STRING>))
         ) AS sources""")
    val edges = spark.createDataFrame(Seq(
      ("a", "kennt", "b", "explicit"),
      ("a", "kennt", "c", "explicit"),
      ("b", "mag", "c", "explicit"),
      ("a", "ist teil von", "c", "implicit")))
      .toDF("subject", "predicate", "object", "inferred")
    Statistics.compute(spark, nodes, edges, "t")
      .collect().map(r => (r.getString(2), r.getString(3)) -> r.getDouble(4))
      .toMap
  }

  test("a wd-miss node (null arrays) still counts in every family") {
    // pre-fix, concat(NULL array) erased node id=0 from the whole pass-2
    // explode: Unknown type, its fallback buckets and dbpedia counters
    assert(metrics(("types_distribution", "Unknown")) == 1.0)
    assert(metrics(("types_distribution", "Person")) == 399.0)
    assert(metrics(("wikipedia_fallback_dist", "none")) == 400.0)
    // id=0 is dbpedia-linked (even) — its dbp families must count too
    assert(metrics(("top10_dbpedia_part_of", "Whole Thing")) == 1.0)
  }

  test("linked counts and banker's-rounded percents") {
    assert(metrics(("total", "entities")) == 400.0)
    assert(metrics(("linked_count", "wikidata")) == 399.0)
    assert(metrics(("linked_count", "dbpedia")) == 200.0)
    assert(metrics(("linked_percent", "dbpedia")) == 50.0)
    // 399/400 = 99.75% → HALF_EVEN 99.8
    assert(metrics(("linked_percent", "wikidata")) == 99.8)
  }

  test("A8 entity_inference counts + HALF_EVEN percents") {
    assert(metrics(("entity_inference", "implicit")) == 49.0)
    assert(metrics(("entity_inference", "explicit")) == 351.0)
    // 49/400 = 12.25 → 12.2 (Python round() parity), not HALF_UP 12.3
    assert(metrics(("entity_inference_percent", "implicit")) == 12.2)
    assert(metrics(("entity_inference_percent", "explicit")) == 87.8)
  }

  test("A5 wikidata top10 families; unresolved labels skipped") {
    assert(metrics(("top10_instance_of", "Mensch")) == 398.0)
    assert(!metrics.contains(("top10_instance_of", "null")))
    assert(metrics(("top10_subclass_of", "Klasse")) == 1.0)
    assert(metrics(("top10_part_of", "Gruppe")) == 9.0) // ids 1..9 (0 has null)
    assert(metrics(("top10_has_part", "Teil")) == 1.0)
  }

  test("A6 dbpedia top10 families: linked-only + P11 label projection") {
    assert(metrics(("top10_dbpedia_types", "TypeA")) == 200.0)
    assert(metrics(("top10_dbpedia_categories", "Cat A")) == 200.0)
    assert(metrics(("top10_dbpedia_subjects", "Subj A")) == 200.0)
  }

  test("A7/A8 relationship counters + percents") {
    assert(metrics(("total", "relationships")) == 4.0)
    assert(metrics(("top10_predicates", "kennt")) == 2.0)
    assert(metrics(("relationships_inferred", "explicit")) == 3.0)
    assert(metrics(("relationships_inferred", "implicit")) == 1.0)
    assert(metrics(("relationships_inferred_percent", "explicit")) == 75.0)
    assert(metrics(("relationships_inferred_percent", "implicit")) == 25.0)
  }

  test("A9 entity_connections distinct-neighbor counts") {
    assert(metrics(("entity_connections", "a")) == 2.0)
    assert(metrics(("entity_connections", "c")) == 2.0)
    assert(metrics(("entity_connections", "b")) == 2.0)
  }
}
