package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._

/** Closed-loop benchmark harness: one client, one job in flight, one
  * `local[N]` session in this JVM. Runs one workload for a wall-clock
  * window, checks its outputs, and writes a result JSON (plus spans when
  * traced) for `perfbench/run.py`, which prints the final metrics line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --out FILE [--pages P] [--entities E] [--orders O] [--cores C]
  *        [--sample K] [--setups R] [--salted 0|1]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, pages: Int, entities: Int,
      orders: Int, cores: Int, sample: Int, setups: Int, salted: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def g(k: String, d: String) = m.getOrElse(k, d)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath, g("pages", "2000").toInt,
      g("entities", "120").toInt, g("orders", "1500").toInt,
      g("cores", "4").toInt, g("sample", "200").toInt, g("setups", "3").toInt,
      g("salted", "0") == "1")
  }

  /** Unmeasured iterations before the measured loop. The first is cold
    * (class loading, code generation); the second lets the JIT catch up. */
  val Warmups = 2

  /** The 14 headline operator queries, in the order one pass runs them. */
  val Headline: Seq[String] = Seq("q01_agg", "q02_join_agg", "q03_topk",
    "q07_running_sum", "q08_event_window", "dd_minhash_lsh", "dd_simhash",
    "dd_ngram_jaccard", "sim_topk", "sim_ann_topk", "ta_fingerprint",
    "kg_mentions", "kg_cc", "kg_pipeline_triples")

  /** Every per-layer metric a traced run reports, for every workload; a
    * layer the workload does not run reads 0. */
  val LayerMetrics: Seq[String] = Seq(
    "plan.s", "plan.jobs",
    "extract.s", "extract.task_s", "extract.util", "extract.gc_s",
    "extract.cache_mb", "extract.pages", "extract.mentions",
    "extract.entities", "extract.triples",
    "link.s", "link.task_s", "link.util", "link.gc_s",
    "link.shuffle_write_mb", "link.shuffle_read_mb", "link.spill_mb",
    "link.exchanges", "link.rows", "link.broadcast_sites",
    "link.salted_sites", "link.resolved_ratio",
    "cc.s",
    "stats.s", "stats.task_s", "stats.util", "stats.jobs",
    "stats.shuffle_read_mb",
    "tables.write_mb", "tables.read_mb", "tables.files", "tables.s") ++
    Headline.map(q => s"ops.$q.s") ++ Seq("ops.shuffle_mb",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.codegen_compiles", "jvm.gc_s",
    "trace.job_s", "trace.listener_s")

  private def now(): Double = System.nanoTime() / 1e9

  private val t00 = now()
  def phase(msg: String): Unit = System.err.println(f"[perfbench ${now() - t00}%8.2f] $msg")

  private def timed[A](f: => A): (A, Double) = {
    val t0 = now()
    val a = f
    (a, now() - t0)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** CPU seconds this JVM has run, over all its threads. */
  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Seconds the JIT compiler threads have spent compiling. */
  private def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes Spark's code generator has compiled in this JVM. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  private def dirBytes(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")))
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Unpersists the RDDs persisted since `before` (the diff `graft.Bench`
    * uses): this iteration's caches and checkpoints, never set-up's. */
  private def releaseSince(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = true))

  /** What one workload does; `iteration` returns this iteration's
    * end-to-end extras or throws on a failed output check. */
  trait Workload {
    def setup(rep: Int): Unit
    /** Session-wide state the measured iterations reuse, built once before
      * the warm-up (kept out of the per-iteration release). */
    def prime(): Unit = ()
    /** Warm-up iteration `i`; warm-up 0 also leaves what `finalCheck` reads. */
    def warm(i: Int): Unit
    def iteration(k: Int, sp: Spans, first: Boolean): Map[String, Double]
    def finalCheck(): Unit = ()
    def checkFiles: Seq[(String, String)] = Nil
  }

  /** Opens benchmark spans when tracing; a pass-through otherwise. */
  final class Spans(tracer: Option[Tracer], val iter: Int) {
    def apply[A](name: String)(body: => A): A =
      tracer.fold(body)(_.span(name, iter)(body))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // One KG iteration generates about 200 distinct classes. With the
      // default cache of 100 they evict each other, and every iteration
      // recompiles them (Janino, then the JIT). That compile time, not the
      // pipeline, then dominates and scatters job_s. `codegen_compiles`
      // reports what a measured iteration still compiles.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = System.currentTimeMillis() / 1e3 - jvmStart
    val tracer = if (a.trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

    val errors = mutable.ArrayBuffer.empty[String]
    val jobS = mutable.ArrayBuffer.empty[Double]
    val extras = mutable.ArrayBuffer.empty[Map[String, Double]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0
    var failed = 0
    var correct = true

    val w: Workload =
      if (a.workload == "ops_headline") new OpsWorkload(spark, a)
      else new KgWorkload(spark, a, materialized = a.workload == "kg_materialized")
    phase("session")
    val setupS = (1 to a.setups).map(r => timed(w.setup(r))._2)
    phase("setup")
    val (_, warmupS) = timed {
      w.prime()
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      (0 until Warmups).foreach(w.warm)
      releaseSince(spark, before)
      (0 until Warmups).foreach(i => deleteTree(a.work.resolve(s"warm-$i")))
    }
    phase("warmup")
    val baseline = storageBytes(spark)

    val loopStart = now()
    var k = 0
    while (k == 0 || now() - loopStart < a.seconds) {
      k += 1
      attempted += 1
      val sp = new Spans(tracer, k)
      val gc0 = gcMs()
      val cpu0 = cpuS()
      val jit0 = jitS()
      val cg0 = codegenCompiles()
      val lis0 = tracer.fold(0.0)(_.listenerS)
      try {
        val (ex, secs) = timed(sp("iteration")(w.iteration(k, sp, first = jobS.isEmpty)))
        val leak = storageBytes(spark) - baseline
        if (leak != 0)
          throw new IllegalStateException(
            s"iteration $k left $leak persisted bytes above the set-up baseline")
        jobS += ex.getOrElse("job_s", secs)
        val compiles = (codegenCompiles() - cg0).toDouble
        extras += ex + ("cpu_s" -> (cpuS() - cpu0)) + ("jit_s" -> (jitS() - jit0)) +
          ("codegen_compiles" -> compiles)
        tracer.foreach { t =>
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
          layers += Layers.sample(t, k, a.cores) ++ ex.filter(_._1.contains('.')) ++
            Map("jvm.gc_s" -> (gcMs() - gc0) / 1e3, "spark.codegen_compiles" -> compiles,
              "trace.listener_s" -> (t.listenerS - lis0))
        }
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"iteration $k: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
      }
    }
    phase("loop")
    try w.finalCheck()
    catch {
      case e: Throwable =>
        correct = false
        errors += s"final check: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
    }
    phase("final check")
    if (failed > 0) correct = false

    tracer.foreach(_.writeJsonl(a.out.resolveSibling(
      a.out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl")))
    spark.stop()

    def med(key: String): Double = median(extras.flatMap(_.get(key)).toSeq)
    val e2e = Map(
      "job_s" -> median(jobS.toSeq),
      "setup_s" -> median(setupS))
    val extraKeys = extras.flatMap(_.keys).distinct.filterNot(k => k.contains('.') || k == "job_s")
    val extra = extraKeys.map(k => k -> med(k)).toMap ++ Map(
      "session_s" -> sessionS, "warmup_s" -> warmupS,
      "fail_ratio" -> failed.toDouble / attempted.max(1),
      "job_s_n" -> jobS.size.toDouble)
    val layerMedians =
      if (!a.trace) Map.empty[String, Double]
      else LayerMetrics.map { n =>
        val xs = if (n == "trace.job_s") jobS.toSeq else layers.flatMap(_.get(n)).toSeq
        n -> (if (xs.isEmpty) 0.0 else median(xs))
      }.toMap
    Json.write(a.out, Map(
      "workload" -> a.workload, "seed" -> a.seed, "correct" -> correct,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "job_s_samples" -> jobS.toSeq, "setup_s_samples" -> setupS,
      "end_to_end" -> e2e, "extra" -> extra, "per_layer" -> layerMedians,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "cores" -> a.cores,
      "check_files" -> w.checkFiles.map { case (k, v) => Map(k -> v) }))
  }

  /** `Pipeline.run` (in memory) or `Pipeline.runMaterialized` on pages from
    * `SyntheticCorpus.PageFactory(seed, entities)`. */
  final class KgWorkload(spark: SparkSession, a: Args, materialized: Boolean)
      extends Workload {
    import spark.implicits._
    private val cfg = KgConfig.default.copy(forceSaltedJoins = a.salted)
    private val factory = new SyntheticCorpus.PageFactory(a.seed, a.entities)
    private var dicts: Pipeline.Dicts = _
    private var prepared: Option[Linking.Prepared] = None
    private var pages: Dataset[PageRow] = _
    private var setupCaches = Set.empty[Int]
    private var counts: Option[Seq[Long]] = None
    private var parity = Map.empty[String, Double]

    def setup(rep: Int): Unit = {
      // earlier repetitions' persisted dictionaries are dropped: only the
      // last set-up's artifacts stay for the measured loop
      releaseSince(spark, setupCaches)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      dicts = Pipeline.dictsFromCorpus(spark,
        SyntheticCorpus.generate(0, a.seed, a.entities))
      if (!materialized) prepared = Some(Pipeline.prepareLink(spark, dicts, cfg))
      val f = factory // a local, so the closure does not capture the workload
      val generated = spark.range(a.pages)
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .mapPartitions(it => it.map(i => f.page(i.toInt)))
      pages =
        if (!materialized) generated
        else {
          // staged input: the materialized run reads its html from parquet
          val dir = a.work.resolve(s"pages-$rep")
          generated.write.mode("overwrite").parquet(dir.toString)
          if (rep > 1) deleteTree(a.work.resolve(s"pages-${rep - 1}"))
          spark.read.parquet(dir.toString).as[PageRow]
        }
      setupCaches = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }

    private def countAll(r: Pipeline.Result, sp: Spans): Seq[Long] =
      if (materialized)
        sp("read")(Seq(r.edges.count(), r.nodes.count(), r.components.count(),
          r.metrics.count()))
      else Seq(sp("extract")(r.edges.count()), sp("link")(r.nodes.count()),
        sp("cc")(r.components.count()), sp("stats")(r.metrics.count()))

    private def call(root: Path, runId: String): Pipeline.Result =
      if (materialized)
        Pipeline.runMaterialized(spark, pages, dicts,
          new KgTables(spark, root.toString), cfg, runId)
      else Pipeline.run(spark, pages, dicts, cfg, prepared = prepared)

    def warm(i: Int): Unit = {
      val root = a.work.resolve(s"warm-$i")
      val got = countAll(call(root, s"warm-$i"), new Spans(None, 0))
      checkCounts(0, got)
      if (materialized) checkCounts(0, countAll(call(root, s"warm-$i"), new Spans(None, 0)))
    }

    def iteration(k: Int, sp: Spans, first: Boolean): Map[String, Double] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val base = storageBytes(spark)
      val root = a.work.resolve(s"tables-$k")
      deleteTree(root)
      try {
        val t0 = now()
        val (res, got) = sp("job") {
          val r = sp("plan")(call(root, s"bench-$k"))
          (r, countAll(r, sp))
        }
        val jobS = now() - t0
        val cacheMb = (storageBytes(spark) - base) / 1e6
        val out = mutable.Map("job_s" -> jobS, "pages_per_s" -> a.pages / jobS,
          "cache_mb" -> cacheMb)
        if (first) parity = checkParity(res)
        checkCounts(k, got)
        out ++= parity
        out("link.rows") = got(1).toDouble
        if (materialized) {
          val (bytes, files) = dirBytes(root)
          out("written_mb") = bytes / 1e6
          out("tables.files") = files
          val (again, resumeS) = timed(sp("resume") {
            countAll(call(root, s"bench-$k"), sp)
          })
          if (again != got)
            throw new IllegalStateException(s"resumed counts $again differ from $got")
          out("resume_s") = resumeS
        } else out("extract.cache_mb") = cacheMb
        if (a.trace) out ++= linkFacts(res, got(1))
        out.toMap
      } finally {
        releaseSince(spark, before)
        deleteTree(root)
      }
    }

    private var linkFactsCache = Map.empty[String, Double]

    /** Join-site decisions from the `link_plan` metric rows and the share of
      * nodes whose Wikipedia lookup found a page (untimed, first iteration). */
    private def linkFacts(res: Pipeline.Result, nodes: Long): Map[String, Double] = {
      if (linkFactsCache.isEmpty) {
        val plan = res.metrics.filter(col("stage") === "link_plan")
          .select("metric").as[String].collect()
        val found = res.nodes.filter(col("sources.wikipedia.status") === "found").count()
        linkFactsCache = Map(
          "link.broadcast_sites" -> plan.count(_ == "dict_join_broadcast").toDouble,
          "link.salted_sites" -> plan.count(_ == "dict_join_salted").toDouble,
          "link.resolved_ratio" -> found.toDouble / nodes.max(1L))
      }
      linkFactsCache
    }

    private def checkCounts(k: Int, got: Seq[Long]): Unit = counts match {
      case None => counts = Some(got)
      case Some(c) if c != got =>
        throw new IllegalStateException(s"iteration $k counts $got differ from $c")
      case _ =>
    }

    /** (url, subject, predicate, object) of the pipeline's edges on a
      * seed-chosen page sample against `Oracle.processDoc`. */
    private def checkParity(res: Pipeline.Result): Map[String, Double] = {
      val rnd = new scala.util.Random(a.seed ^ 0x5eedL)
      val idx = rnd.shuffle((0 until a.pages).toVector).take(a.sample)
      val corpus = SyntheticCorpus.generate(0, a.seed, a.entities)
      val sample = idx.map(factory.page)
      val expected = sample.flatMap { p =>
        Oracle.processDoc(p, corpus.aliases, corpus.patterns, corpus.wdEntities, cfg)._2
          .map(t => (p.url, t.subject, t.predicate, t.obj))
      }.toSet
      val urls = sample.map(_.url)
      val got = res.edges.filter(col("url").isin(urls: _*))
        .select("url", "subject", "predicate", "object")
        .as[(String, String, String, String)].collect().toSet
      if (expected.isEmpty || got.isEmpty)
        throw new IllegalStateException("parity sample produced no triples")
      val tp = (got intersect expected).size.toDouble
      val p = tp / got.size
      val r = tp / expected.size
      if (p < 1.0 || r < 1.0)
        throw new IllegalStateException(
          f"triple parity on ${a.sample} sampled pages: P=$p%.4f R=$r%.4f " +
            s"only-got=${(got diff expected).take(3)} only-expected=${(expected diff got).take(3)}")
      Map("triple_precision" -> p, "triple_recall" -> r)
    }
  }

  /** One pass of the 14 headline `SparkEntry.queries` into a noop sink over
    * tables generated by [[OpsData]]. Warm-up pass 0 writes each result
    * to parquet instead: `run.py` compares those with DuckDB running the
    * query's `SparkEntry.oracleSql`, and `finalCheck` compares
    * `kg_pipeline_triples` (whose oracle is a golden file) with
    * `Oracle.processDoc`. */
  final class OpsWorkload(spark: SparkSession, a: Args) extends Workload {
    private var dir: String = _
    private val results = a.work.resolve("ops-out")

    def setup(rep: Int): Unit = {
      val d = a.work.resolve(s"ops-data-$rep")
      OpsData.write(spark, d.toString, a.seed, a.orders)
      if (rep > 1) deleteTree(a.work.resolve(s"ops-data-${rep - 1}"))
      dir = d.toString
    }

    private def noop(q: String): Unit =
      graft.SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()

    /** kg_pipeline_triples memoizes its prepared dictionaries per session;
      * the caches of this one call stay too (about 0.3 MB). */
    override def prime(): Unit = noop("kg_pipeline_triples")

    def warm(i: Int): Unit = Headline.foreach { q =>
      if (i > 0) noop(q)
      else graft.SparkEntry.queries(q)(spark, dir)
        .write.mode("overwrite").parquet(results.resolve(q).toString)
    }

    def iteration(k: Int, sp: Spans, first: Boolean): Map[String, Double] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      sp("job")(Headline.foreach(q => sp(s"ops.$q")(noop(q))))
      releaseSince(spark, before)
      Map.empty
    }

    override def finalCheck(): Unit = {
      val missing = Headline.filterNot(q => q == "kg_pipeline_triples" ||
        graft.SparkEntry.oracleSql.contains(q))
      if (missing.nonEmpty) throw new IllegalStateException(s"no oracle SQL for $missing")
      val corpus = SyntheticCorpus.generate(nPages = 100, seed = 42L)
      val expected = corpus.pages.flatMap { p =>
        Oracle.processDoc(p, corpus.aliases, corpus.patterns, corpus.wdEntities,
          KgConfig.default)._2.map(t => Seq(p.url, t.subject, t.predicate, t.obj, t.inferred))
      }.sortBy(_.mkString("\u0001"))
      val got = spark.read.parquet(results.resolve("kg_pipeline_triples").toString)
        .select("url", "subject", "predicate", "object", "inferred").collect()
        .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("\u0001")).toSeq
      if (got != expected)
        throw new IllegalStateException(
          s"kg_pipeline_triples: ${got.size} rows differ from Oracle.processDoc's ${expected.size}")
    }

    override def checkFiles: Seq[(String, String)] = Seq(
      "data" -> dir, "results" -> results.toString) ++
      Headline.filterNot(_ == "kg_pipeline_triples").map(q => q -> graft.SparkEntry.oracleSql(q))
  }
}

/** Per-iteration layer metrics from the spans of one traced iteration. */
object Layers {
  def sample(t: Tracer, iter: Int, cores: Int): Map[String, Double] = {
    val spans = t.all.filter(_.iter == iter)
    val job = spans.find(_.name == "job").get
    def under(s: Span): Seq[Span] = {
      val kids = spans.filter(_.parent == s.id)
      kids ++ kids.flatMap(under)
    }
    val tree = job +: under(job)
    def named(n: String) = tree.filter(_.name == n)
    def self(n: String) = named(n).map(t.selfS(_, spans)).sum
    def m(ss: Seq[Span])(f: SpanMetrics => Long): Double = ss.map(s => f(s.m).toDouble).sum
    val mb = 1e6
    val out = mutable.Map.empty[String, Double]
    Seq("plan", "extract", "link", "cc", "stats").foreach { n =>
      val ss = named(n)
      val secs = self(n)
      val task = m(ss)(_.taskNanos) / 1e9
      out(s"$n.s") = secs
      out(s"$n.task_s") = task
      out(s"$n.util") = if (secs > 0) task / (secs * cores) else 0.0
      out(s"$n.gc_s") = m(ss)(_.gcMs) / 1e3
      out(s"$n.jobs") = m(ss)(_.jobs)
      out(s"$n.shuffle_write_mb") = m(ss)(_.shuffleWriteBytes) / mb
      out(s"$n.shuffle_read_mb") = m(ss)(_.shuffleReadBytes) / mb
      out(s"$n.spill_mb") = m(ss)(_.spillBytes) / mb
      out(s"$n.exchanges") = m(ss)(_.exchanges)
    }
    val ex = named("extract")
    Seq("pages" -> "kg.pages_processed", "mentions" -> "kg.mentions_total",
      "entities" -> "kg.entities_emitted", "triples" -> "kg.triples_emitted")
      .foreach { case (k, acc) => out(s"extract.$k") = ex.map(_.m.accums.getOrElse(acc, 0L)).sum.toDouble }
    val tableSpans = tree.filter(_.fromTable)
    out("tables.write_mb") = m(tree)(_.outputBytes) / mb
    out("tables.read_mb") = m(tree.filterNot(_.name == "extract"))(_.inputBytes) / mb
    out("tables.s") = tableSpans.map(_.durS).sum
    Main.Headline.foreach(q => out(s"ops.$q.s") = named(s"ops.$q").map(_.durS).sum)
    out("ops.shuffle_mb") =
      if (named("ops.q01_agg").isEmpty) 0.0 else m(tree)(_.shuffleWriteBytes) / mb
    out("spark.jobs") = m(tree)(_.jobs)
    out("spark.stages") = m(tree)(_.stages)
    out("spark.tasks") = m(tree)(_.tasks)
    out.toMap
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(p: Path, v: Any): Unit = Files.writeString(p, render(v))
}
