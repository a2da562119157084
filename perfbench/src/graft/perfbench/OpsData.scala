package graft.perfbench

import java.sql.Timestamp
import scala.util.Random
import org.apache.spark.sql.SparkSession

/** Seeded generator of the operator library's input tables (the
  * `region nation customer supplier part orders lineitem events documents
  * embeddings` parquet set the `graft.queries`/`graft.ops` entry points
  * read), with the column names and types of the project's test data.
  * `nOrders` sets the size: lineitem gets about four rows per order, and
  * the other tables keep the row ratios of the test data (whose sf0.1 has
  * 150k orders and 600k lineitem rows), except documents and embeddings,
  * which get orders / 30 rows each, at most 1000. Documents include
  * near-duplicates so the dedup operators find pairs; embeddings cluster
  * by label. */
object OpsData {

  private val Words = Vector("the", "a", "fast", "slow", "big", "small",
    "key", "order", "sort", "table", "scan", "merge", "part", "window", "hash",
    "join", "batch", "stream", "spark", "group", "query", "row", "data",
    "filter", "customer", "line", "value", "agg", "column", "vector", "of",
    "and", "index", "page", "node", "edge", "graph", "text", "token", "word")

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  private def ts(ms: Long): Timestamp = new Timestamp(ms)

  def write(spark: SparkSession, dir: String, seed: Long, nOrders: Int): Unit = {
    import spark.implicits._
    val rnd = new Random(seed)
    val nOrd = nOrders.max(100)
    val nCust = (nOrd / 10).max(50)
    val nSupp = (nOrd / 150).max(10)
    val nPart = (nOrd * 2 / 15).max(50)
    val nEvents = (nOrd * 2 / 3).max(100)
    val nDocs = (nOrd / 30).max(50).min(1000)
    val nVecs = nDocs
    def out(name: String) = s"$dir/$name.parquet"
    val day = 86400000L
    val base = 820454400000L // 1996-01-01

    Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(out("region"))
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(out("nation"))
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    (0 until nCust).map(i => (i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(rnd.nextDouble() * 10000 - 1000), segments(rnd.nextInt(5))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(out("customer"))
    (0 until nSupp).map(i => (i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        r2(rnd.nextDouble() * 10000 - 1000)))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .coalesce(1).write.mode("overwrite").parquet(out("supplier"))
    val adj = Vector("cold", "small", "large", "shiny", "rusty", "smooth")
    val types = Vector("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM")
    (0 until nPart).map(i => (i.toLong, s"${adj(rnd.nextInt(adj.size))} widget",
        s"Brand#${1 + rnd.nextInt(25)}", types(rnd.nextInt(types.size)),
        1 + rnd.nextInt(50), r2(900.0 + (i % 1000) * 0.1)))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .coalesce(1).write.mode("overwrite").parquet(out("part"))
    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until nOrd).map { i =>
      (i.toLong, rnd.nextInt(nCust).toLong, if (rnd.nextDouble() < 0.5) "F" else "O",
        r2(1000 + rnd.nextDouble() * 300000), ts(base + rnd.nextInt(2000) * day),
        prios(rnd.nextInt(prios.size)))
    }
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(out("orders"))
    val lines = orders.flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val q = (1 + rnd.nextInt(50)).toDouble
        (o._1, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong, ln, q,
          r2(q * (900 + rnd.nextDouble() * 1200)), rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, Vector("A", "N", "R")(rnd.nextInt(3)),
          if (rnd.nextDouble() < 0.5) "F" else "O",
          ts(o._5.getTime + (1 + rnd.nextInt(120)) * day))
      }
    }
    lines.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(out("lineitem"))
    val evTypes = Vector("click", "view", "purchase", "signup", "error")
    val ev0 = 1704067200000L // 2024-01-01
    (0 until nEvents).map { i =>
      (i.toLong, ts(ev0 + i * 367000L + rnd.nextInt(360000)), rnd.nextInt(150).toLong,
        evTypes(rnd.nextInt(evTypes.size)), r2(rnd.nextDouble() * 500),
        s"""{"k": ${rnd.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(out("events"))
    val langs = Vector("de", "en", "es", "fr", "zh")
    val docs = growing[Vector[String]](nDocs) { (i, prev) =>
      val ws =
        if (i > 10 && rnd.nextDouble() < 0.3) {
          // near-duplicate of an earlier document: ~10% of words replaced
          prev(rnd.nextInt(i)).map(w =>
            if (rnd.nextDouble() < 0.1) Words(rnd.nextInt(Words.size)) else w)
        } else Vector.fill(20 + rnd.nextInt(60))(Words(rnd.nextInt(Words.size)))
      ws
    }
    docs.zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      (i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(5)}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(out("documents"))
    val dim = 64
    val centroids = Vector.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
    (0 until nVecs).map { i =>
      val label = rnd.nextInt(10)
      val v = centroids(label).map(_ + rnd.nextGaussian() * 0.8)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(out("embeddings"))
  }

  /** Build `n` items where item i may depend on the items before it. */
  private def growing[A](n: Int)(f: (Int, collection.IndexedSeq[A]) => A): IndexedSeq[A] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[A]
    (0 until n).foreach(i => buf += f(i, buf))
    buf.toIndexedSeq
  }
}
