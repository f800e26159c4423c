package perfbench

import java.nio.file.Path

import graft.functions.{SpanExtractor, UrlFunctions}
import graft.model.FetchEvent
import graft.operators.BlockedBloom
import graft.oracle.SequentialOracle
import graft.pipeline.CrawlEngine
import graft.snapshot.SnapshotStore
import graft.streaming.FetchStream
import graft.synth.{SyntheticWeb, WebConfig}
import graft.util.Hashing

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The two crawl workloads. One driver thread runs generations back to
  * back through `CrawlEngine.run(queries, maxRounds = 1)` (the public loop,
  * so the in-run seen-chain compaction is part of each generation), then
  * one `maintain()`, then checks the store against `SequentialOracle.run`
  * over the same inputs.
  */
object CrawlBench {

  /** Workload shape. `stepS` is the nominal generation wall on a 4-core
    * host; the run makes `seconds / stepS` timed generations (at least
    * `minSteps`), so the work of a run is fixed by its arguments.
    */
  final case class Shape(nHosts: Int, resultsPerPage: Int, bodyElems: Int, batchSize: Int,
                         expandTopK: Int, seededFrac: Double, stepS: Double, minSteps: Int)

  def shape(workload: String, size: String): Shape = (workload, size) match {
    // many hosts and long pages: nearly every candidate is a new URL, so
    // fetch + span extraction and the docs/images commits do the work
    case ("crawl-fresh", "full") => Shape(150000, 40, 150, 40, 0, 0.0, 12.5, 1)
    // 2k hosts (about 37k distinct pages), 90% of them already seen: the
    // seen-dedup tiers, the frontier path and the per-generation job floor
    // do the work; few pages are fetched
    case ("crawl-recrawl", "full") => Shape(2000, 600, 12, 10, 2, 0.9, 12.5, 1)
    case ("crawl-fresh", _) => Shape(20000, 10, 150, 4, 0, 0.0, 1000.0, 1)
    case _ => Shape(300, 60, 12, 3, 2, 0.9, 1000.0, 1)
  }

  /** A seeded share of every page URL of the synthetic web. */
  def universe(cfg: WebConfig, frac: Double): Set[String] =
    (for {
      rank <- 1 to cfg.nHosts
      pid <- 0L until SyntheticWeb.pageCount(cfg, rank)
      url = SyntheticWeb.pageUrl(cfg, rank, pid)
      if Hashing.toUnit(Hashing.det(cfg.seed, "seeded", url)) < frac
    } yield url).toSet

  def run(spark: SparkSession, a: Args, cores: Int, sessionS: Double,
          tracer: Option[Tracer]): Outcome = {
    import spark.implicits._
    val sh = shape(a.workload, a.size)
    val timedGens = math.max(sh.minSteps, math.round(a.seconds / sh.stepS).toInt)
    val cfg = WebConfig(seed = a.seed, nHosts = sh.nHosts, resultsPerPage = sh.resultsPerPage,
      bodyElems = sh.bodyElems)
    val queries = (1 to (1 + timedGens) * sh.batchSize)
      .map(i => s"singapore topic $i seed ${a.seed}")

    // ---- set-up: inputs, engine start and one warm-up generation. The
    // recrawl store starts from a seen table holding most of the page
    // universe (an earlier crawl's state), so every generation runs at
    // the saturated steady state.
    val store = a.work.resolve("crawl-store")
    val ((engine, seeded), setupS) = Harness.timeS {
      val seeded = if (sh.seededFrac > 0) universe(cfg, sh.seededFrac) else Set.empty[String]
      if (seeded.nonEmpty) {
        val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
        SnapshotStore(store.toString).table("seen").appendBucketed(
          seeded.toSeq.map(u => (u, UrlFunctions.hostOf(u))).toDF("href", "host"),
          generation = 0, buckets, "href")
      }
      val e = new CrawlEngine(spark, cfg, store.toString, sh.batchSize, expandTopK = sh.expandTopK)
      e.run(queries, maxRounds = 1)
      (e, seeded)
    }

    // ---- timed generations
    val steps = new Steps
    val jvm = new JvmWindow
    val probes = new CrawlProbes(spark, cfg, sh, queries, tracer)
    val seen0 = engine.seenT.currentSnapshot.map(_.rowCount).getOrElse(0L)
    val store0 = Harness.dirBytes(store)
    var ok = true
    while (ok && steps.done.size < timedGens) {
      val gen = engine.lastCommittedGeneration + 1
      probes.before(engine, gen)
      ok = jvm.measure(steps.run(s"gen-$gen")(engine.run(queries, maxRounds = 1): Unit))
      if (ok) probes.after(engine, gen)
    }
    val seen1 = engine.seenT.currentSnapshot.map(_.rowCount).getOrElse(0L)
    val storeTimed = Harness.dirBytes(store)
    val timedIds = steps.done.map(_.id.stripPrefix("gen-").toInt).toSet
    val perGen = engine.metricsT.read(spark).get.as[(String, Long, Int)].collect()
      .filter(r => timedIds(r._3)).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val candidates = perGen.getOrElse("candidates", 0L)

    // ---- maintenance (one attempt)
    val maintainS = try Some(Harness.timeS(engine.maintain())._2) catch {
      case e: Exception => System.err.println(s"[perfbench] maintain failed: $e"); None
    }
    val storeMb = Harness.dirBytes(store) / Harness.MB

    // ---- output checks against the sequential oracle on the same inputs
    val checks = new Checks
    val gens = engine.lastCommittedGeneration
    val oracle = SequentialOracle.run(cfg, queries, sh.batchSize, maxRounds = gens,
      initialSeen = seeded, expandTopK = sh.expandTopK)
    val expectedSeen = if (a.tamper) oracle.seen - oracle.seen.min else oracle.seen
    checks.check("seen_set") {
      val s = engine.seenSet()
      (s == expectedSeen, s"engine ${s.size} urls, oracle ${expectedSeen.size}, " +
        s"only-engine ${(s -- expectedSeen).size}, only-oracle ${(expectedSeen -- s).size}")
    }
    checks.check("crawl_order") {
      val o = engine.crawlOrder()
      val firstDiff = o.zip(oracle.crawlOrder).indexWhere { case (x, y) => x != y }
      (o == oracle.crawlOrder, s"engine ${o.size}, oracle ${oracle.crawlOrder.size}, " +
        s"first difference at $firstDiff")
    }
    checks.check("span_sequences") {
      val eng = engine.docs().map(d => d.doc_id -> d).toMap
      val ora = oracle.docs.map(d => d.doc_id -> d).toMap
      val bad = ora.count { case (id, od) => eng.get(id).forall(ed =>
        ed.spans != od.spans || ed.page_title != od.page_title || ed.page_summary != od.page_summary) }
      (eng.keySet == ora.keySet && bad == 0 && ora.nonEmpty,
        s"engine ${eng.size} docs, oracle ${ora.size}, mismatching $bad")
    }
    checks.check("politeness") {
      val events = engine.eventsT.read(spark).get.as[FetchEvent]
      val v = FetchStream.politenessAudit(events).count()
      (v == 0, s"$v violations")
    }

    val stepP50 = Harness.median(steps.walls)
    val e2e = Seq(
      Metric("setup_s", sessionS + setupS, "s"),
      Metric("input_per_s", Harness.ratio(candidates, steps.totalS), "1/s"),
      Metric("admitted_per_s", Harness.ratio(seen1 - seen0, steps.totalS), "1/s"),
      Metric("step_p50_s", stepP50, "s"),
      Metric("store_mb", storeMb, "MB"))
    val layers = tracer.toSeq.flatMap { t =>
      val aggs = t.attribute(steps.done.map(s => (s.id, s.startMs, s.endMs)).toSeq)
      val written = aggs.map(_.outputB).sum.toDouble
      Tracer.pipelineMetrics(aggs, cores) ++ probes.metrics(
        perGen.getOrElse("docs", 0L) / math.max(1.0, steps.done.size)) ++ Seq(
        Metric("snapshot.write_amp", Harness.ratio(written, (storeTimed - store0).toDouble), "ratio"),
        Metric("snapshot.maintain_s", maintainS.getOrElse(0.0), "s"),
        Metric("jvm.gc_s", jvm.gcS, "s"))
    }
    Outcome(e2e, layers,
      attempted = steps.done.size + steps.failed + 1 + checks.all.size,
      failed = steps.failed + (if (maintainS.isEmpty) 1 else 0) + checks.failed,
      checks.all.toSeq, stepP50, steps.done.size)
  }
}

/** Timed calls into the crawl layers' public functions, made between
  * generations in the traced run only (no-ops untraced).
  */
final class CrawlProbes(spark: SparkSession, cfg: WebConfig, sh: CrawlBench.Shape,
                        queries: Seq[String], tracer: Option[Tracer]) {
  import spark.implicits._

  // operators: routing outcome of each generation's distinct candidates
  private var cands, maybe, notSeen, bloomFp, cuckooRouted = 0L
  private val probeNs = ArrayBuffer.empty[Double]
  // synth / functions: single-thread fetch and extraction cost on a sample
  private var sampled, extracted, spans = 0L
  private var fetchS, extractS = 0.0
  // snapshot
  private val chainDirs = ArrayBuffer.empty[Double]
  private val readSeenS = ArrayBuffer.empty[Double]

  private val SamplePages = 200
  private val BloomBuckets = 32 // CrawlEngine's default bloomBuckets

  /** The batch `run` will pick for `gen`, as the engine picks it. */
  private def batchOf(engine: CrawlEngine, gen: Int): Seq[String] = {
    val processed = engine.processedQueries()
    queries.filterNot(processed)
      .sortBy(q => (SequentialOracle.shuffleRank(cfg.seed, gen, q), q)).take(sh.batchSize)
  }

  def before(engine: CrawlEngine, gen: Int): Unit = tracer.foreach { t =>
    t.probe(s"gen-$gen", "operators.routing") {
      val hrefs = (for {
        q <- batchOf(engine, gen)
        kind <- 0 to 1
        page <- 1 to cfg.pages
        hit <- SyntheticWeb.searchHits(cfg, q, if (kind == 1) page else cfg.pages, kind == 1)
        if hit.url != null && hit.url.nonEmpty
      } yield hit.url).distinct
      val bloom = engine.bloomT.read(spark).map(_.select($"bucket", $"bits"))
        .getOrElse(Seq.empty[(Int, Array[Byte])].toDF("bucket", "bits"))
      val cuckoo = engine.cuckooT.read(spark).map(_.select($"host", $"cf", $"cf_exact"))
        .getOrElse(Seq.empty[(String, Array[Byte], Boolean)].toDF("host", "cf", "cf_exact"))
      val seen = engine.seenT.read(spark).map(_.select($"href", lit(true).as("in_seen")))
        .getOrElse(Seq.empty[(String, Boolean)].toDF("href", "in_seen"))
      val rows = hrefs.map(u => (u, UrlFunctions.hostOf(u))).toDF("href", "host")
        .withColumn("bucket", pmod(xxhash64($"href"), lit(BloomBuckets)).cast("int"))
        .join(broadcast(bloom), Seq("bucket"), "left")
        .join(broadcast(cuckoo), Seq("host"), "left")
        .join(seen, Seq("href"), "left")
        .select($"href", $"bucket", expr("bloom_might_contain(bits, href)"),
          coalesce($"cf_exact", lit(false)), expr("cuckoo_contains(cf, href)"),
          coalesce($"in_seen", lit(false)))
        .as[(String, Int, Boolean, Boolean, Boolean, Boolean)].collect()
      cands += rows.length
      maybe += rows.count(r => if (r._4) r._5 else r._3)
      notSeen += rows.count(!_._6)
      bloomFp += rows.count(r => r._3 && !r._6)
      cuckooRouted += rows.count(_._4)
      // driver-side probe cost of the same keys against the same blobs
      val blobs = bloom.as[(Int, Array[Byte])].collect().toMap
      val keys = rows.flatMap(r => blobs.get(r._2).map(b => (b, r._1.getBytes("UTF-8"))))
      if (keys.nonEmpty) {
        var hits = 0
        val t0 = System.nanoTime()
        for (_ <- 1 to 5; (b, k) <- keys) if (BlockedBloom.probeBytes(b, k)) hits += 1
        probeNs += (System.nanoTime() - t0).toDouble / (5L * keys.length)
      }
    }
  }

  def after(engine: CrawlEngine, gen: Int): Unit = tracer.foreach { t =>
    val id = s"gen-$gen"
    val urls = t.probe(id, "synth.sample") {
      engine.eventsT.read(spark).get.filter($"round" === gen).select($"url").as[String]
        .limit(SamplePages).collect().toSeq
    }._1
    val (pages, fs) = t.probe(id, "synth.fetch")(urls.flatMap(u => SyntheticWeb.fetch(cfg, u).map(u -> _)))
    val (nSpans, es) = t.probe(id, "functions.extract")(pages.map { case (u, h) =>
      SpanExtractor.extract(u, h).spans.size.toLong }.sum)
    sampled += urls.size; extracted += pages.size; spans += nSpans
    fetchS += fs; extractS += es
    chainDirs += engine.seenT.commitDirCount.toDouble
    readSeenS += t.probe(id, "snapshot.read_seen") {
      engine.seenT.read(spark).get.agg(sum(length($"href"))).collect()
    }._2
  }

  def metrics(pagesPerGen: Double): Seq[Metric] = {
    val fetchUs = Harness.ratio(fetchS * 1e6, sampled.toDouble)
    val extractUs = Harness.ratio(extractS * 1e6, extracted.toDouble)
    Seq(
      Metric("synth.fetch_us_per_page", fetchUs, "us"),
      Metric("synth.fetch_s_per_gen", fetchUs * pagesPerGen / 1e6, "s"),
      Metric("functions.extract_us_per_page", extractUs, "us"),
      Metric("functions.extract_s_per_gen", extractUs * pagesPerGen / 1e6, "s"),
      Metric("functions.spans_per_page", Harness.ratio(spans.toDouble, extracted.toDouble), "count"),
      Metric("functions.pages_per_gen", pagesPerGen, "count"),
      Metric("operators.maybe_seen_ratio", Harness.ratio(maybe.toDouble, cands.toDouble), "ratio"),
      Metric("operators.bloom_fp_ratio", Harness.ratio(bloomFp.toDouble, notSeen.toDouble), "ratio"),
      Metric("operators.cuckoo_hit_ratio", Harness.ratio(cuckooRouted.toDouble, cands.toDouble), "ratio"),
      Metric("operators.bloom_probe_ns", Harness.median(probeNs.toSeq), "ns"),
      Metric("snapshot.seen_chain_dirs", Harness.median(chainDirs.toSeq), "count"),
      Metric("snapshot.read_seen_s", Harness.median(readSeenS.toSeq), "s"))
  }
}
