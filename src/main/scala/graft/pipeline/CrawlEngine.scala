package graft.pipeline

import graft.model._
import graft.operators.BlockedBloom
import graft.oracle.SequentialOracle
import graft.snapshot.{SnapshotStore, SnapshotTable}
import graft.synth.{SyntheticWeb, WebConfig}
import graft.functions.{Predicates, SpanExtractor, UrlFunctions}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The Spark-native crawl frontier + fetch scheduler (SURVEY §3.4). One
  * generation = one declarative DAG:
  *
  * {{{
  * batch queries (driver, seeded shuffle — main.py:61-65 normalized)
  *  → flatMap synthetic search (S4/S5/G4)                        [narrow]
  *  → first-seen-wins window over ArrivalKey (D1 intra-batch)    [shuffle 1: hash(href)]
  *  → Bloom-routed exact anti-join vs seen (D1/J2)               [reuses shuffle 1 partitioning]
  *  → relevance predicate (P4), PDF split (P5/S7/D3/J4)          [narrow]
  *  → robots gate + per-host politeness schedule (window)        [shuffle 2: hash(host)]
  *  → salted repartition → fetch + span extraction (S6/G1/G2/G5) [shuffle 3: hash(host,salt)]
  *  → snapshot commits: seen+Δ links+Δ docs+Δ images+Δ pdf+Δ
  *    metrics+Δ host_state, processed_queries LAST (K3 barrier)
  * }}}
  *
  * Scale design notes:
  *  - the Bloom tier (blocked, FNV-1a+murmur3) is a HOST-HASH-BUCKET-
  *    PARTITIONED table `bloom_tier(bucket, bits)` built and incrementally
  *    merged ENTIRELY executor-side by a Catalyst TypedImperativeAggregate
  *    (`bloom_agg`) — no monolithic driver-resident filter exists. Probing
  *    is a join of candidates to their bucket's blob + a codegen'd
  *    `bloom_might_contain` expression; whether that join broadcasts (small
  *    tier) or co-partitions on the bucket key (10^10-scale tier, ~15 GB)
  *    is a size-based plan decision, not a hardcoded broadcast. Routing
  *    never decides membership: the exact anti-join stays the authority so
  *    the final seen set equals the reference's;
  *  - the cuckoo hot-host tier is likewise a table `cuckoo_tier(host, cf,
  *    cf_exact)`: filters are BUILT executor-side (groupByKey/mapGroups
  *    over the seen table, streaming inserts — the driver never sees a
  *    host's URL set, only ≤hotHostCount serialized filters) and MAINTAINED
  *    executor-side (cogroup with each generation's seen delta); saturated
  *    filters are dropped and rebuilt larger next generation;
  *  - per-generation totals come from one narrow count job (map-side
  *    partials only) and hot-host selection from a server-side top-k over
  *    the host_state statistics (`orderBy.limit(k)`, k rows to the driver)
  *    — no O(distinct hosts) or O(|seen|) collect anywhere in a generation;
  *  - politeness is a window over hash(host) partitioning: slot j of host h
  *    is scheduled at next_free(h) + j*min_delay(h) — per-host state never
  *    crosses partitions;
  *  - mega-host skew: the fetch stage repartitions on (host, salt) with
  *    salt = hash(url) % saltShards, splitting a hot host's fetch work
  *    across tasks WITHOUT violating the per-host schedule (scheduled times
  *    are already assigned; shards only execute);
  *  - every count used for counters is taken from a persisted Dataset so
  *    no stage re-executes nondeterministically.
  *
  * Crash consistency: processed_queries commits last; [[rollbackPartial]]
  * time-travels every other table back to the last fully-committed
  * generation on restart, giving exactly the reference's observable
  * idempotent-resume semantics (tracker replay + master replay,
  * main.py:43-49, crawler.py:31-40) but atomically.
  */
final class CrawlEngine(
    spark: SparkSession,
    cfg: WebConfig,
    storeRoot: String,
    batchSize: Int,
    saltShards: Int = 4,
    bloomBitsPerKey: Int = 12,
    bloomExpectedKeys: Long = 1L << 20,
    hotHostCount: Int = 8,
    expandTopK: Int = 0,
    bloomBuckets: Int = 32,
    tierBroadcastBytes: Long = 512L << 20,
    seenSemiFilterRows: Long = 10L * 1000 * 1000,
    autoMaintainSeenDirs: Int = 16) extends Serializable {

  import spark.implicits._

  graft.functions.expressions.GraftFunctions.register(spark)

  @transient private val store = SnapshotStore(storeRoot)
  @transient val seenT: SnapshotTable = store.table("seen")

  /** Bucket count for the seen table's storage layout: pinned by any
    * existing bucketed commit (manifest registry — append compatibility
    * across sessions beats re-deriving it from session conf), else the
    * session's shuffle parallelism.
    */
  @transient private lazy val seenBuckets: Int =
    seenT.currentSnapshot.flatMap(_.dirBuckets).flatMap(_.values.headOption)
      .map(_.split(":", 2)(0).toInt)
      .getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
  @transient val linksT: SnapshotTable = store.table("links")
  @transient val docsT: SnapshotTable = store.table("documents")
  @transient val imagesT: SnapshotTable = store.table("images")
  @transient val pdfT: SnapshotTable = store.table("pdf_urls")
  @transient val processedT: SnapshotTable = store.table("processed_queries")
  @transient val hostStateT: SnapshotTable = store.table("host_state")
  @transient val metricsT: SnapshotTable = store.table("metrics")
  @transient val eventsT: SnapshotTable = store.table("fetch_events")
  @transient val frontierT: SnapshotTable = store.table("frontier")
  @transient val partitionMetricsT: SnapshotTable = store.table("partition_metrics")

  /** Synthetic robots/politeness host-profile table (north rule: robots
    * rules evaluated from a host table joined on host, not per-row
    * callbacks). Synthesized DISTRIBUTED via spark.range — each task
    * derives its rank slice — never as a driver-resident Seq: at the
    * design scale (10⁷-10⁸ hosts) a driver materialization is GBs before
    * the first query runs. Whether a join against it broadcasts is the
    * [[gatedBroadcast]] byte-budget decision at each use site.
    */
  @transient private lazy val hostProfilesDf: DataFrame = {
    import spark.implicits._
    val webCfg = cfg
    spark.range(1L, webCfg.nHosts + 1L).as[Long]
      .map(r => SyntheticWeb.hostProfile(webCfg, r.toInt))
      .toDF()
      .select($"host", $"min_delay_ms", $"robots_disallow")
  }

  /** robots gate as a codegen'd higher-order predicate over the joined
    * disallow-prefix array (no UDF): allowed iff no disallow prefix matches
    * the URL path.
    */
  private def robotsAllowedCol(urlCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val path = regexp_extract(urlCol, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    !exists(coalesce(col("robots_disallow"), array()),
      p => startswith(path, p))
  }

  /** Partitioned Bloom tier table: (bucket, bits BINARY), bucket =
    * pmod(xxhash64(href), bloomBuckets). Built from the seen table by the
    * `bloom_agg` TypedImperativeAggregate (executor-side, merge = OR),
    * incrementally extended per generation by `bloom_or`-merging the
    * delta's per-bucket filters, rebuilt 4× larger when the seen count
    * outgrows the recorded capacity.
    */
  @transient val bloomT: SnapshotTable = store.table("bloom_tier")

  /** Exact cuckoo tier table for hot hosts (north rule): (host, cf BINARY,
    * cf_exact). The top-k hosts by candidate mass keep a per-host cuckoo
    * filter whose NEGATIVE answers are exact (while unsaturated) — their
    * high-collision URL traffic routes around both the Bloom's false
    * positives and the anti-join shuffle. Delete support is what
    * distinguishes the cuckoo from the Bloom tier (eviction/re-crawl).
    */
  @transient val cuckooT: SnapshotTable = store.table("cuckoo_tier")

  private def bucketCol(href: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(href), lit(bloomBuckets)).cast("int")

  /** Size-gate for the host-keyed dimension broadcasts (hostProfilesDf /
    * host_state) — the same byte-budget discipline the bloom/cuckoo tiers
    * use. At the design scale (10¹⁰ URLs over Zipf hosts → 10⁷-10⁸ hosts)
    * an unconditional broadcast ships a multi-GB table to every executor
    * every generation; over budget the hint is dropped and Catalyst joins
    * on the host key (downstream stages are host-partitioned anyway, so
    * the exchange is reused). Estimates are conservative per-row costs —
    * routing the plan, not deciding results.
    */
  private def gatedBroadcast(df: DataFrame, estBytes: Long): DataFrame =
    if (estBytes <= tierBroadcastBytes) broadcast(df) else df

  /** host string + delay long + a few disallow prefixes + row overhead. */
  private def hostProfileEstBytes: Long = cfg.nHosts.toLong * 128

  /** host string + two longs + overhead; rows from the snapshot counter
    * (manifest read, never a scan).
    */
  private def hostStateEstBytes: Long =
    hostStateT.currentSnapshot.map(_.rowCount).getOrElse(0L) * 64

  private def emptyBloomDf: DataFrame =
    Seq.empty[(Int, Array[Byte])].toDF("bucket", "bits")

  private def emptyCuckooDf: DataFrame =
    Seq.empty[(String, Array[Byte], Boolean)].toDF("host", "cf", "cf_exact")

  private def bloomCapacity: Long =
    bloomT.currentSnapshot.flatMap(_.counters.get("capacity")).getOrElse(0L)

  private def bloomBlocks: Int =
    bloomT.currentSnapshot.flatMap(_.counters.get("num_blocks")).getOrElse(0L).toInt

  /** (Re)build the partitioned Bloom tier when absent or outgrown — a
    * distributed group-by-bucket aggregation over the seen table; the
    * driver only writes the table pointer.
    */
  private def ensureBloomTier(): Unit = {
    val seenRows = seenT.currentSnapshot.map(_.rowCount).getOrElse(0L)
    if (bloomT.currentSnapshot.isEmpty || seenRows > bloomCapacity) {
      val capacity = math.max(bloomExpectedKeys, seenRows * 4)
      val nb = BlockedBloom.blocksFor(
        math.max(1L, capacity / bloomBuckets), bloomBitsPerKey)
      val df = seenT.read(spark) match {
        case Some(seenDf) =>
          // pre-shuffle on the bucket key: each task then PARTIALLY
          // aggregates only its own buckets' filters (without this, every
          // map task allocates+shuffles one full-size bloom buffer per
          // bucket — O(tasks × buckets × bufferBytes) at high parallelism)
          seenDf.select(bucketCol($"href").as("bucket"), $"href")
            .repartition($"bucket")
            .groupBy($"bucket").agg(expr(s"bloom_agg(href, $nb, 7)").as("bits"))
        case None => emptyBloomDf
      }
      // stored bucketed on the bucket key: every later merge/probe join
      // reads the tier with no exchange on the stored side
      bloomT.replaceBucketed(df, lastCommittedGeneration, bloomBuckets, "bucket",
        Map("capacity" -> capacity, "num_blocks" -> nb.toLong))
    }
  }

  /** Tier-routed "not in seen" over a `url` column (the r3 expansion-path
    * fix): probe the partitioned bloom tier — the tier is a superset filter
    * of seen (built from it, delta-merged every commit, rolled back in step)
    * so clear bits or a missing bucket is a DEFINITIVE no and those rows
    * skip the exact join entirely; only the maybe rows anti-join seen, with
    * the seen side pre-reduced by a runtime semi-filter bloom aggregated
    * over them (the same trade as the candidate-dedup path). `expectedRows`
    * sizes that bloom: undersizing only raises its FP rate (extra shuffled
    * rows, never a dropped or phantom url) — membership is always decided
    * by the exact anti-join. Cost: O(|df|) narrow probe + O(|maybe|)-driven
    * shuffles; the per-generation O(|seen|) exchange never happens.
    */
  private def antiJoinSeen(df: DataFrame, seenDf: DataFrame, expectedRows: Long,
                           caches: scala.collection.mutable.ArrayBuffer[Dataset[_]]): DataFrame = {
    val bloomDf0 = bloomT.read(spark).getOrElse(emptyBloomDf)
    val bloomBytes = (bloomBlocks.toLong * 64 + 1) * bloomBuckets
    val bloomDf = if (bloomBytes <= tierBroadcastBytes) broadcast(bloomDf0) else bloomDf0
    val probed = df
      .withColumn("bucket", bucketCol($"url"))
      .join(bloomDf, Seq("bucket"), "left")
      .withColumn("maybe_seen", expr("bloom_might_contain(bits, url)"))
      .drop("bucket", "bits")
    val defNew = probed.filter(!$"maybe_seen").drop("maybe_seen")
    val maybe0 = probed.filter($"maybe_seen").drop("maybe_seen")
    defNew.unionByName(exactNotInSeen(maybe0, "url", seenDf, expectedRows, caches))
  }

  /** The runtime semi-filter trade shared by EVERY exact anti-join against
    * seen (candidate dedup, frontier picks, discovery dedup — one
    * implementation so the gating/sizing/persist discipline can't drift
    * between paths): persist the (small) maybe side, aggregate a bloom over
    * its `urlCol`, broadcast it to the seen scan — the anti-join's right
    * side shrinks to ~|maybe| rows BEFORE the exchange. Falls back to the
    * full seen column when the table is below `seenSemiFilterRows` (the
    * extra bloom job wouldn't pay) or the bloom would blow the broadcast
    * budget. Correctness never depends on the filter: FPs shuffle, never
    * drop. Returns (maybe side — possibly persisted into `caches`, seen
    * side keyed as `urlCol`).
    */
  private def semiFilteredSeen(maybe0: DataFrame, urlCol: String, seenDf: DataFrame,
                               expectedRows: Long,
                               caches: scala.collection.mutable.ArrayBuffer[Dataset[_]])
  : (DataFrame, DataFrame) = {
    val (m, mBloomOpt) = maybeSemiBloom(maybe0, urlCol, expectedRows, caches)
    (m, bloomShrunk(seenDf.select($"href".as(urlCol)), mBloomOpt, urlCol))
  }

  /** Pre-shrink a seen-side scan by the broadcast maybe-bloom (no-op
    * without one). ONE implementation for the single-join and chain paths —
    * the probe expression must not drift between them.
    */
  private def bloomShrunk(seenSide: DataFrame, mBloomOpt: Option[DataFrame],
                          urlCol: String): DataFrame =
    mBloomOpt match {
      case Some(mb) => seenSide.join(broadcast(mb))
        .filter(expr(s"bloom_might_contain(mbits, `$urlCol`)"))
        .select(col(urlCol))
      case None => seenSide
    }

  /** The semi-filter's gating/sizing half, shared with the bucketed chain:
    * persist the maybe side and aggregate a one-row bloom over its
    * `urlCol` when the seen table is big enough to pay and the bloom fits
    * the broadcast budget. Returns (maybe — possibly persisted into
    * `caches`, optional bloom row).
    */
  private def maybeSemiBloom(maybe0: DataFrame, urlCol: String, expectedRows: Long,
                             caches: scala.collection.mutable.ArrayBuffer[Dataset[_]])
  : (DataFrame, Option[DataFrame]) = {
    val nbM = BlockedBloom.blocksFor(math.max(1L, expectedRows), bloomBitsPerKey)
    val maybeBloomBytes = nbM.toLong * 64 + 64
    if (seenT.currentSnapshot.exists(_.rowCount >= seenSemiFilterRows) &&
      maybeBloomBytes <= tierBroadcastBytes) {
      val m = maybe0.persist(StorageLevel.MEMORY_AND_DISK)
      caches += m
      (m, Some(m.agg(expr(s"bloom_agg(`$urlCol`, $nbM, 7)").as("mbits"))))
    } else (maybe0, None)
  }

  /** Exact "not in seen" — the membership authority behind every tier.
    * When the seen table is stored BUCKETED by href (the default layout
    * from this round on — [[graft.snapshot.SnapshotTable.appendBucketed]]),
    * the join runs as a storage-partitioned anti-join CHAIN: one SMJ anti
    * per bucketed commit dir, each seen-side scan read bucket-aligned with
    * NO exchange; the probe side is shuffled to the bucket partitioning
    * once and the chain reuses it (set difference is associative:
    * p \ (s₀∪s₁∪…) = ((p \ s₀) \ s₁) \ …). The maybe-side runtime bloom
    * still pre-shrinks each chunk scan (filters preserve the scan's
    * partitioning). Chain length = bucketed dirs since the last
    * compaction — [[maintain]]'s compact folds them to one — and is capped
    * at `maxSeenChainDirs`, past which (or for legacy/mixed layouts) the
    * semi-filtered single anti-join remains the fallback.
    */
  private val maxSeenChainDirs = 24
  private def exactNotInSeen(maybe0: DataFrame, urlCol: String, seenDf: DataFrame,
                             expectedRows: Long,
                             caches: scala.collection.mutable.ArrayBuffer[Dataset[_]])
  : DataFrame = {
    val chunks = seenT.readCommitChunks(spark).getOrElse(Seq.empty)
    if (chunks.nonEmpty && chunks.size <= maxSeenChainDirs &&
      seenT.bucketSpec.exists(_._2 == "href")) {
      val (maybe, mBloomOpt) = maybeSemiBloom(maybe0, urlCol, expectedRows, caches)
      chunks.foldLeft(maybe) { (acc, ch) =>
        val filtered = bloomShrunk(ch.select($"href".as(urlCol)), mBloomOpt, urlCol)
        acc.join(filtered, Seq(urlCol), "left_anti")
      }
    } else {
      val (maybe, seenSide) = semiFilteredSeen(maybe0, urlCol, seenDf, expectedRows, caches)
      maybe.join(seenSide, Seq(urlCol), "left_anti")
    }
  }

  def lastCommittedGeneration: Int =
    processedT.currentSnapshot.map(_.generation).getOrElse(0)

  /** Roll every table back to the last generation whose processed_queries
    * barrier committed (T2/T3 resume semantics).
    */
  def rollbackPartial(): Unit = {
    val committed = lastCommittedGeneration
    Seq(seenT, linksT, docsT, imagesT, pdfT, hostStateT, metricsT, eventsT,
      frontierT, partitionMetricsT, bloomT, cuckooT)
      .foreach(_.rollbackToGeneration(committed))
  }

  def processedQueries(): Set[String] =
    processedT.read(spark).map(_.select($"query").as[String].collect().toSet).getOrElse(Set.empty)

  /** Full run: the reference batch loop (main.py:54-104). Returns the number
    * of generations executed.
    */
  def run(seedQueries: Seq[String], maxRounds: Int = Int.MaxValue): Int = {
    rollbackPartial()
    ensureBloomTier()
    var round = lastCommittedGeneration
    var executed = 0
    var remaining = currentRemaining(seedQueries)
    while (remaining.nonEmpty && executed < maxRounds) {
      round += 1
      val shuffled = remaining.sortBy(q => (SequentialOracle.shuffleRank(cfg.seed, round, q), q))
      val batch = shuffled.take(batchSize)
      runGeneration(round, batch)
      autoMaintainSeen()
      remaining = shuffled.drop(batchSize)
      executed += 1
    }
    executed
  }

  /** In-run maintenance cadence: the seen chain grows one bucketed dir per
    * generation, and past [[maxSeenChainDirs]] the exchange-free anti-join
    * chain silently falls back to the semi-filtered single join — without a
    * cadence the fast path only survives as long as someone remembers to
    * call [[maintain]] between crawls. When the chain reaches
    * `autoMaintainSeenDirs` (0 disables), fold it back to half via
    * SIZE-TIERED minor compaction ([[graft.snapshot.SnapshotTable
    * .compactTiered]]): only the smallest dirs merge, so a long crawl
    * rewrites a seen row O(log(|seen|/|delta|)) times total instead of
    * re-paying O(|seen|) every cadence tick the way a major fold would —
    * the write-amplification bound that matters at a 10¹⁰-row seen table.
    * Vacuum keeps exactly the rollback depth resume needs; the commit is
    * stamped with the just-barriered generation, so a crash anywhere in
    * this window resumes identically (the compaction snapshot IS
    * generation-N state). Full [[maintain]] (frontier fold + every table)
    * remains the between-runs major pass.
    */
  private def autoMaintainSeen(): Unit =
    if (autoMaintainSeenDirs > 0 && seenT.commitDirCount >= autoMaintainSeenDirs) {
      seenT.compactTiered(spark, math.max(1, autoMaintainSeenDirs / 2))
      seenT.vacuum(2)
    }

  /** D2: seed order preserved, processed queries anti-filtered (main.py:48).
    * Seed lists are driver-resident in the reference too; the processed set
    * is read from the snapshot table.
    */
  private def currentRemaining(seedQueries: Seq[String]): Vector[String] = {
    val processed = processedQueries()
    seedQueries.iterator.map(_.trim).filter(_.nonEmpty).filterNot(processed).toVector
  }

  /** One generation DAG. Batch is small (driver-held, like the reference's
    * batch list); everything downstream is distributed.
    */
  def runGeneration(round: Int, batch: Seq[String]): Map[String, Long] = {
    ensureBloomTier()
    val webCfg = cfg
    // intermediates persisted conditionally inside the DAG builders
    // (e.g. the semi-filter's maybe side) register here for end-of-
    // generation unpersist
    val genCaches = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // ---- G4: search fan-out (both kinds, all pages) --------------------
    val batchDs = spark.createDataset(batch.zipWithIndex.map { case (q, i) => (q, i) })
    val candidates: Dataset[Link] = batchDs.flatMap { case (query, qRank) =>
      for {
        kind <- 0 to 1
        page <- 1 to webCfg.pages
        // crawler.py:80 pageno bug: general search always requests cfg.pages
        effPage = if (kind == 1) page else webCfg.pages
        (hit, rRank) <- SyntheticWeb.searchHits(webCfg, query, effPage, kind == 1).zipWithIndex
        if hit.url != null && hit.url.nonEmpty // P3
      } yield Link(hit.title, hit.url, hit.content, query, effPage, hit.engine,
        if (kind == 1) Some("image") else None, hit.img_src, hit.thumbnail_src,
        round, qRank, kind, rRank, UrlFunctions.hostOf(hit.url))
    }
    // NOT persisted: the candidate stream is a deterministic flatMap over a
    // tiny driver list — recomputing it for its consumers costs far less
    // than caching millions of Link rows (memory pressure at bench scale).
    // The generation total (A1 counters) is ONE narrow count job — all
    // map-side partial counts, no aggregation exchange, scales with cores
    // (the old pre-pass carried a groupBy(host) whose O(hosts) per-task
    // partial maps made it anti-scale at high parallelism).
    val nCandidates = candidates.count()

    // Hot hosts = top-k by CUMULATIVE scheduled fetches from the host_state
    // table (k rows via server-side orderBy/limit). Using the prior
    // generations' stats instead of a current-batch pre-aggregation is the
    // at-scale shape: hot hosts are stable across generations, and it
    // removes a full O(candidates) pre-pass + O(hosts) partial-agg exchange
    // per generation. Routing-only: membership stays with the exact tier.
    val hotNow: Set[String] = hostStateT.read(spark) match {
      case Some(hs) if hs.columns.contains("n_scheduled") =>
        hs.orderBy($"n_scheduled".desc, $"host").limit(hotHostCount)
          .select($"host").as[String].collect().toSet
      case _ => Set.empty
    }

    // ---- D1: intra-batch first-seen-wins on deterministic ArrivalKey ----
    val arrival = Seq($"kind", $"query_rank", $"page", $"result_rank")
    val wHref = Window.partitionBy($"href").orderBy(arrival: _*)
    val firstSeen = candidates.toDF()
      .withColumn("rn", row_number().over(wHref)).filter($"rn" === 1).drop("rn")

    // ---- D1/J2: tiered routing (cuckoo hot tier → Bloom → exact anti-join)
    // Hot hosts this generation = server-side top-k by candidate mass; newly
    // hot hosts get a cuckoo filter BUILT EXECUTOR-SIDE from the seen table
    // (groupByKey + streaming inserts — a hot host's URL set never reaches
    // the driver). Routing never decides membership positively: any "maybe
    // seen" goes through the exact anti-join, so FPs cost a shuffled row,
    // never a dropped URL.
    val storedCuckoo = cuckooT.read(spark).getOrElse(emptyCuckooDf)
    val storedHosts: Set[String] =
      if (cuckooT.currentSnapshot.exists(_.rowCount > 0))
        storedCuckoo.select($"host").as[String].collect().toSet // ≤ hotHostCount rows
      else Set.empty
    // prune to hosts hot NOW: without this the maintained set accumulates
    // every ever-hot host, and the broadcast + per-generation cogroup scale
    // with history instead of hotHostCount (a pruned host that re-heats is
    // simply rebuilt)
    val tracked = storedHosts.intersect(hotNow)
    val liveCuckoo =
      if (tracked.size == storedHosts.size) storedCuckoo
      else storedCuckoo.filter($"host".isin(tracked.toSeq: _*))
    val missing = (hotNow -- tracked).toSeq.sorted
    // byte budget (same discipline as the Bloom tier's tierBroadcastBytes
    // gate): a hot host whose filter would blow the per-host share is NOT
    // built — routing is an accelerator, the exact anti-join stays the
    // authority, so skipping is always correct
    val perHostBudget = tierBroadcastBytes / math.max(1L, 2L * hotHostCount)
    // the tier is live once any host has a filter or can get one built;
    // when dormant (e.g. generation 1: nothing seen yet) every tier job —
    // seed build, probe join, cogroup maintenance, table commit — is skipped
    val cuckooActive = tracked.nonEmpty ||
      (missing.nonEmpty && seenT.currentSnapshot.exists(_.rowCount > 0))
    var builtEstBytes = 0L
    val cuckooDf = (if (missing.isEmpty || seenT.read(spark).isEmpty) liveCuckoo
    else {
      val seenDf = seenT.read(spark).get
      val sizes: Map[String, Long] = seenDf.filter($"host".isin(missing: _*))
        .groupBy($"host").count().as[(String, Long)].collect().toMap
      def capacityOf(h: String): Long = math.max(1024L, sizes.getOrElse(h, 0L) * 4)
      val buildable = missing.filter(h =>
        graft.operators.CuckooFilter.bytesFor(capacityOf(h)) <= perHostBudget)
      if (buildable.size < missing.size)
        println(s"[graft.cuckoo] skipped ${missing.size - buildable.size} hot hosts over " +
          s"the per-host byte budget ($perHostBudget B) — exact anti-join remains authority")
      builtEstBytes = buildable.map(h =>
        graft.operators.CuckooFilter.bytesFor(capacityOf(h))).sum
      val built = seenDf.filter($"host".isin(buildable: _*))
        .select($"host", $"href").as[(String, String)]
        .groupByKey(_._1)
        .mapGroups { (h, it) =>
          val cf = graft.operators.CuckooFilter.sized(
            math.max(1024L, sizes.getOrElse(h, 0L) * 4))
          it.foreach(t => cf.insert(t._2))
          (h, cf.toBytes, cf.negativesAreExact)
        }.toDF("host", "cf", "cf_exact")
      liveCuckoo.unionByName(built)
    }).persist(StorageLevel.MEMORY_AND_DISK)
    // broadcast gate: stored tier bytes come free from the snapshot counter
    // (written at each maintenance commit); over budget → the probe join
    // co-partitions on host instead of broadcasting
    val cuckooTierBytes = builtEstBytes +
      cuckooT.currentSnapshot.flatMap(_.counters.get("bytes")).getOrElse(0L)

    // Probe = joins to the tier tables + codegen'd native expressions (no
    // Scala UDF): candidates pick up their bucket's Bloom blob (explicitly
    // broadcast while the tier is small; at 10^10 scale the tier exceeds
    // tierBroadcastBytes and the join co-partitions on the bucket key) and
    // their host's cuckoo filter (≤ hotHostCount rows, always broadcast).
    val newLinks = (seenT.read(spark) match {
      case None => firstSeen
      case Some(seenDf) =>
        val bloomDf0 = bloomT.read(spark).getOrElse(emptyBloomDf)
        val bloomBytes = (bloomBlocks.toLong * 64 + 1) * bloomBuckets
        val bloomDf = if (bloomBytes <= tierBroadcastBytes) broadcast(bloomDf0) else bloomDf0
        val bloomProbed = firstSeen
          .withColumn("bucket", bucketCol($"href"))
          .join(bloomDf, Seq("bucket"), "left")
        val cuckooJoinDf =
          if (cuckooTierBytes <= tierBroadcastBytes) broadcast(cuckooDf) else cuckooDf
        val probed = (if (cuckooActive) {
          bloomProbed.join(cuckooJoinDf, Seq("host"), "left")
            .withColumn("maybe_seen",
              when($"cf_exact" === true, expr("cuckoo_contains(cf, href)"))
                .otherwise(expr("bloom_might_contain(bits, href)")))
            .drop("cf", "cf_exact")
        } else {
          bloomProbed.withColumn("maybe_seen", expr("bloom_might_contain(bits, href)"))
        }).drop("bucket", "bits")
        val defNew = probed.filter(!$"maybe_seen").drop("maybe_seen")
        val maybe0 = probed.filter($"maybe_seen").drop("maybe_seen")
        // The exact anti-join's seen side would otherwise SHUFFLE the whole
        // table every generation — at 10^10 seen rows the last remaining
        // O(|seen|) shuffle in the DAG. [[semiFilteredSeen]] (one shared
        // implementation with the frontier/discovery paths) reduces it to
        // ~|maybe| rows before the exchange; the persist also keeps the
        // dedup window + tier joins from executing twice per generation
        // (bloom aggregation AND anti-join both consume the maybe side).
        defNew.unionByName(exactNotInSeen(maybe0, "href", seenDf, nCandidates, genCaches))
    }).persist(StorageLevel.MEMORY_AND_DISK)

    // ---- P4: relevance gate (deterministic 2-of-3 vote) ----------------
    val kept = newLinks
      .filter(Predicates.isRelevantCol($"title", $"href", $"content"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- P5/S7/D3: PDF split (codegen'd confirm probe — no ScalaUDF) ----
    val isPdf = Predicates.isLikelyPdfUrlCol($"href") &&
      expr(s"confirms_pdf(href, ${webCfg.seed}L)")
    val pdfLinks = kept.filter(isPdf)
    val htmlLinks = kept.filter(!isPdf)

    // ---- O5: priority-frontier expansion picks (north rule) ------------
    // per-host top-K not-yet-seen, robots-allowed frontier links by
    // (score desc, url): hash(host) partitioning + in-partition sort — no
    // global ordering anywhere.
    val emptyFrontier = Seq.empty[(String, String, Double, Int)]
      .toDF("url", "host", "score", "discovered_gen")
    val oldFrontier = frontierT.read(spark).getOrElse(emptyFrontier)
    val picks = if (expandTopK <= 0) {
      emptyFrontier.select($"url".as("href"), $"host", $"score")
        .persist(StorageLevel.MEMORY_AND_DISK)
    } else {
      // not-seen = tier-routed probe + semi-filtered exact anti-join (never
      // an O(|seen|) shuffle); this generation's own delta (newLinks — not
      // in the tier yet) is a second, delta-sized anti-join. The frontier
      // table is a delta log: rows whose url has entered seen are dead and
      // fall out right here (seen-membership is the tombstone; maintain()
      // folds them out physically).
      val notSeen: DataFrame = seenT.read(spark) match {
        case None => oldFrontier
        case Some(seenDf) =>
          val frontierRows = frontierT.currentSnapshot.map(_.rowCount).getOrElse(1L)
          antiJoinSeen(oldFrontier, seenDf, frontierRows, genCaches)
      }
      val wFrontier = Window.partitionBy($"host").orderBy($"score".desc, $"url")
      notSeen
        .join(newLinks.select($"href".as("url")), Seq("url"), "left_anti")
        .join(gatedBroadcast(hostProfilesDf.select($"host", $"robots_disallow"),
          hostProfileEstBytes), Seq("host"), "left")
        .filter(robotsAllowedCol($"url")).drop("robots_disallow")
        .withColumn("rn", row_number().over(wFrontier)).filter($"rn" <= expandTopK)
        .select($"url".as("href"), $"host", $"score")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val nExpanded = if (expandTopK <= 0) 0L else picks.count()

    // ---- T4: robots gate + per-host politeness schedule (both phases) ---
    // per-host order: phase 0 (ArrivalKey order) then phase 1 (score order);
    // robots + min-delay both come from ONE broadcast host-profile join
    // (the min_delay column rides along instead of a second broadcast join)
    val allowed = htmlLinks
      .join(gatedBroadcast(hostProfilesDf.select($"host", $"robots_disallow", $"min_delay_ms"),
        hostProfileEstBytes), Seq("host"), "left")
      .filter(robotsAllowedCol($"href")).drop("robots_disallow")
    // host_state carries (host, next_free_ms, n_scheduled); the politeness
    // join only needs the clock column (n_scheduled feeds hot-host top-k)
    val hostStateFull = hostStateT.read(spark) match {
      case Some(df) if df.columns.contains("n_scheduled") => df
      case Some(df) => df.withColumn("n_scheduled", lit(0L)) // pre-upgrade store
      case None => Seq.empty[(String, Long, Long)].toDF("host", "next_free_ms", "n_scheduled")
    }
    val hostState = hostStateFull.select($"host", $"next_free_ms")
    val phaseA = allowed.select($"href", $"host", lit(0).as("phase"),
      $"kind", $"query_rank", $"page", $"result_rank", lit(0.0d).as("neg_score"),
      $"min_delay_ms")
    val phaseB = picks
      .join(gatedBroadcast(hostProfilesDf.select($"host", $"min_delay_ms"),
        hostProfileEstBytes), Seq("host"), "left")
      .select($"href", $"host", lit(1).as("phase"),
        lit(0).as("kind"), lit(0).as("query_rank"), lit(0).as("page"),
        lit(0).as("result_rank"), (-$"score").as("neg_score"), $"min_delay_ms")
    val wHost = Window.partitionBy($"host").orderBy(
      $"phase", $"kind", $"query_rank", $"page", $"result_rank", $"neg_score", $"href")
    val sched = phaseA.unionByName(phaseB)
      .join(gatedBroadcast(hostState, hostStateEstBytes), Seq("host"), "left")
      .na.fill(0L, Seq("next_free_ms"))
      .withColumn("slot", row_number().over(wHost) - lit(1))
      .withColumn("scheduled_ms", $"next_free_ms" + $"slot" * $"min_delay_ms")
      .withColumn("salt", pmod(xxhash64($"href"), lit(saltShards)).cast("int"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- S6/G1/G2/G5: salted fetch + span extraction + link discovery ---
    // The extraction output is cached as a DATAFRAME of struct columns, not
    // a Dataset of Scala tuples: its three commit-window consumers (docs,
    // images, partition_metrics) then read it with pure columnar
    // projections inside whole-stage codegen. The tuple form made each
    // consumer re-deserialize every PageDoc/span/image OBJECT through the
    // encoder — 3 full object decodes of the largest dataset per
    // generation, a fixed CPU tax that dominated the commit window.
    val fetched: DataFrame = sched
      .select($"href", $"host", $"salt", $"scheduled_ms")
      .repartition(nPart, $"host", $"salt")
      .sortWithinPartitions($"scheduled_ms") // politeness order within shard
      .as[(String, String, Int, Long)]
      .mapPartitions { it =>
        it.flatMap { case (url, _, _, _) =>
          SyntheticWeb.fetch(webCfg, url).map { html =>
            val ex = SpanExtractor.extract(url, html)
            val doc = PageDoc(SpanExtractor.docId(url), url, ex.pageTitle,
              ex.pageSummary, ex.spans, round)
            val imgs: Seq[SequentialOracle.OracleImage] =
              ex.images.map(r => SequentialOracle.OracleImage(
                r.image_url, url, ex.pageTitle, r.alt_text, r.title_attribute,
                r.raw_caption, ex.pageSummary, round))
            val outLinks: Seq[String] =
              ex.links.collect { case (_, u) if u.startsWith("http") => u }
            (doc, imgs, outLinks)
          }
        }
      }.toDF("doc", "imgs", "out_links")
      // the shard id is captured BEFORE the cache (narrow projection in the
      // fetch tasks themselves) so partition_metrics records the real
      // (host,salt) shard lineage
      .withColumn("partition_id", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val docsDf = fetched.select($"doc.*")
    val imagesDf = fetched.select(explode($"imgs").as("img")).select($"img.*")

    // per-partition lineage counters from the fetch stage (north rule):
    // one row per (host,salt) shard — docs, spans, images produced there.
    // A groupBy over the captured shard id (tiny shuffle, nPart rows in)
    // replaces the old mapPartitions/TaskContext form — columnar, and
    // immune to the coalesce(1)-collapses-the-task-id hazard.
    val partMetrics = fetched
      .groupBy($"partition_id")
      .agg(count(lit(1)).as("docs"),
        sum(size($"doc.spans")).as("spans"),
        sum(size($"imgs")).as("images"))
      .filter($"docs" > 0)
      .withColumn("generation", lit(round))
      .repartition(1) // one row per shard: a 1-file write

    // materialize the shared caches EXACTLY ONCE before the concurrent
    // commit window: Spark's block cache does not coordinate concurrent
    // first-computation of the same partition, so racing consumers would
    // redundantly re-run the dedup window / politeness window / fetch+
    // extract. (An overlapped variant — docs write materializing fetched
    // while the other commits run — was tried and reverted: it trims
    // single-node wall ~15% but removes perfectly-PARALLEL work, leaving
    // the latency-bound commit chain dominant and collapsing the measured
    // N→4N scaling; the defensive materialize-then-commit shape is the one
    // that scales.)
    newLinks.count()
    fetched.count()

    // ---- commits (processed_queries LAST — K3 barrier) -----------------
    // Independent table commits run as CONCURRENT Spark jobs in one
    // [[graft.util.CommitWindow]] (separate dirs, per-table atomic pointer
    // flips; crash recovery handles any committed subset). Per-generation
    // counters come free from the manifests' per-commit row deltas — no
    // standalone count() jobs.
    val seenDelta = newLinks.select($"href", $"host")
      .unionByName(picks.select($"href", $"host"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val window = new graft.util.CommitWindow(spark.sparkContext)
    // seen is stored BUCKETED by href (one file per bucket per commit):
    // [[exactNotInSeen]] reads it back bucket-aligned so the anti-join's
    // seen side never exchanges. The bucket count is pinned by the first
    // bucketed commit (manifest registry) so later generations stay
    // join-compatible even if the session's shuffle partitioning changes.
    val seenMeta = window.add("commit-seen")(
      seenT.appendBucketed(seenDelta, round, seenBuckets, "href"))
    val linksMeta = window.add("commit-links")(linksT.append(kept.toDF(), round))
    val pdfMeta = window.add("commit-pdf")(pdfT.append(
      pdfLinks.select($"href".as("url"), lit(round).as("generation")).coalesce(4), round))
    // distributed Bloom-tier delta merge rides the same concurrency window:
    // per-bucket delta filters aggregated executor-side, OR-merged into the
    // stored tier by a full-outer join — the driver only flips the pointer
    val (bloomCap, bloomNb) = (bloomCapacity, bloomBlocks)
    window.add("commit-bloom") {
      val deltaBloom = seenDelta
        .select(bucketCol($"href").as("bucket"), $"href")
        // pre-shuffle by bucket (see ensureBloomTier): bounds the partial
        // bloom buffers to the task's own buckets
        .repartition($"bucket")
        .groupBy($"bucket").agg(expr(s"bloom_agg(href, $bloomNb, 7)").as("bits"))
      // the stored tier is read back through its storage bucketing (replace
      // commits keep it a single bucketed dir), so the full-outer merge
      // join reads the stored side bucket-aligned — the delta side alone
      // exchanges. At the 10^10 design point the stored tier is ~15 GB;
      // re-exchanging it every generation was the remaining fixed O(tier)
      // shuffle in the commit window.
      val storedBloom = bloomT.readCommitChunks(spark) match {
        case Some(Seq(single)) => single
        case _ => bloomT.read(spark).getOrElse(emptyBloomDf)
      }
      val merged = storedBloom
        .select($"bucket", $"bits".as("ob"))
        .join(deltaBloom.select($"bucket", $"bits".as("db")), Seq("bucket"), "full_outer")
        .select($"bucket", expr("bloom_or(ob, db)").as("bits"))
      bloomT.replaceBucketed(merged, round, bloomBuckets, "bucket",
        Map("capacity" -> bloomCap, "num_blocks" -> bloomNb.toLong))
    }
    // cuckoo-tier maintenance (same window): each tracked host's filter must
    // stay a SUPERSET of that host's seen URLs or its exact-negative claim
    // breaks — insert this generation's delta EXECUTOR-SIDE via cogroup;
    // saturated filters are dropped (rebuilt 4× larger when next hot)
    if (cuckooActive) window.add("commit-cuckoo") {
      val cur = cuckooDf.as[(String, Array[Byte], Boolean)]
      val deltaByHost = seenDelta.select($"host", $"href").as[(String, String)]
      val updated = cur.groupByKey(_._1).cogroup(deltaByHost.groupByKey(_._1)) {
        (h, fs, urls) =>
          fs.nextOption() match {
            case Some((_, bytes, true)) =>
              val cf = graft.operators.CuckooFilter.fromBytes(bytes)
              urls.foreach(u => cf.insert(u._2))
              if (cf.negativesAreExact) Iterator((h, cf.toBytes, true))
              else Iterator.empty
            case _ => Iterator.empty // absent or saturated
          }
      }.toDF("host", "cf", "cf_exact").persist(StorageLevel.MEMORY_AND_DISK)
      // record the tier's serialized bytes so the next generation's
      // broadcast-vs-copartition decision is a counter read, not a scan
      val tierBytes = updated.select(coalesce(sum(length($"cf")), lit(0L))).as[Long].head()
      cuckooT.replace(updated, round, Map("bytes" -> tierBytes))
      updated.unpersist()
    }
    val eventsMeta = window.add("commit-events")(eventsT.append(
      sched.select($"href".as("url"), $"host", $"salt", $"scheduled_ms",
        $"min_delay_ms", lit(round).as("round"), $"phase"), round))
    // host_state: untouched hosts keep state; scheduled hosts advance and
    // accumulate their lifetime fetch count (the hot-host top-k statistic) —
    // depends only on sched (cached), so it rides the first wave
    window.add("commit-hoststate") {
      val updatedState = sched.groupBy($"host")
        .agg((max($"scheduled_ms") + first($"min_delay_ms")).as("next_free"),
          count(lit(1)).as("n_new"))
      val newState = hostStateFull
        .select($"host", $"next_free_ms".as("old_next"), $"n_scheduled".as("old_n"))
        .join(updatedState, Seq("host"), "full_outer")
        .select($"host",
          coalesce($"next_free", $"old_next").as("next_free_ms"),
          (coalesce($"old_n", lit(0L)) + coalesce($"n_new", lit(0L))).as("n_scheduled"))
      hostStateT.replace(newState, round)
    }
    val docsMeta = window.add("commit-docs")(docsT.append(docsDf.toDF(), round))
    window.add("commit-images")(imagesT.append(imagesDf.toDF(), round))
    window.add("commit-partmetrics")(partitionMetricsT.append(partMetrics, round))
    window.run()

    val nNew = seenT.deltaRows(seenMeta()) - nExpanded
    val nKept = linksT.deltaRows(linksMeta())
    val nScheduled = eventsT.deltaRows(eventsMeta())
    val nDocs = docsT.deltaRows(docsMeta())
    val counters = Map(
      "candidates" -> nCandidates,
      "skipped" -> (nCandidates - nNew),
      "new" -> nNew,
      "added" -> nKept,
      "expanded" -> nExpanded,
      "scheduled" -> nScheduled,
      "robots_blocked" -> (nKept - pdfT.deltaRows(pdfMeta()) + nExpanded - nScheduled),
      "docs" -> nDocs)

    // ---- frontier maintenance: DELTA append (discoveries only) ----------
    // Picked rows are NOT rewritten out per generation: a pick entered seen
    // in this very generation's commit, and both the pick path and the
    // discovery dedup below exclude seen members — seen-membership IS the
    // tombstone. maintain() folds dead rows out physically (the amortized
    // place for an O(|frontier|) rewrite); per-generation frontier IO is
    // O(|discoveries|), never O(|frontier|). The discovery not-seen check
    // rides the POST-commit bloom tier (this generation's delta is already
    // merged), so it too shuffles O(|maybe|), not O(|seen|).
    if (expandTopK > 0) {
      val seenNowDf = seenT.read(spark).get
      val rawDisc = fetched.select(explode($"out_links").as("url")).distinct()
      val discoveries = antiJoinSeen(rawDisc, seenNowDf, nCandidates, genCaches)
        .join(oldFrontier.select($"url"), Seq("url"), "left_anti")
        .withColumn("host", regexp_extract(lower($"url"), "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1))
        .withColumn("score", expr(s"link_score(url, ${webCfg.seed}L)")) // codegen'd, no ScalaUDF
        .withColumn("discovered_gen", lit(round))
        .select($"url", $"host", $"score", $"discovered_gen")
      frontierT.append(discoveries, round)
    }
    metricsT.append(counters.toSeq.toDF("key", "value").withColumn("generation", lit(round)), round)
    processedT.append(batch.zipWithIndex.toDF("query", "query_rank")
      .withColumn("generation", lit(round)), round) // commit point

    (Seq[Dataset[_]](newLinks, kept, picks, sched, fetched, seenDelta, cuckooDf)
      ++ genCaches).foreach(_.unpersist())
    counters
  }

  /** Table maintenance (the Iceberg maintenance-job analogue; run between
    * crawls, never required for correctness): bin-pack compact every table
    * whose current file list fragments past `targetFileBytes` packing, then
    * vacuum expired history + rollback orphans. At 10⁴ generations the seen
    * table would otherwise carry one file set per generation — the classic
    * small-files decay. keepSnapshots=2 preserves exactly the rollback
    * depth [[rollbackPartial]] needs (one uncommitted generation).
    */
  def maintain(targetFileBytes: Long = 128L << 20, keepSnapshots: Int = 2): Map[String, Int] = {
    // roll back FIRST: after a crash the store may hold partial commits of
    // an unbarriered generation. Folding against that uncommitted seen
    // delta would drop frontier rows the rollback is about to un-pick (and
    // stamp the fold with the committed generation, putting it beyond the
    // next resume's rollback) — the aborted generation's urls would then
    // be in neither seen nor the frontier. Rollback is idempotent and is
    // exactly what run() does on entry, so maintenance folds only
    // barrier-committed state.
    rollbackPartial()
    foldFrontier()
    val tables = Seq(seenT, linksT, docsT, imagesT, pdfT, processedT,
      hostStateT, metricsT, eventsT, frontierT, partitionMetricsT, bloomT, cuckooT)
    tables.map { t =>
      t.compact(spark, targetFileBytes)
      t.name -> t.vacuum(keepSnapshots)
    }.toMap
  }

  /** Fold the frontier delta log: physically drop rows whose url entered
    * seen (picked, or crawled via another path) — the per-generation
    * commits deliberately leave them (seen-membership is the tombstone;
    * rewriting the whole frontier per generation was the r3 scale flag).
    * One O(|frontier|) rewrite per maintenance window, not per generation.
    */
  private def foldFrontier(): Unit =
    for (f <- frontierT.read(spark); s <- seenT.read(spark)) {
      val live = f.join(s.select($"href".as("url")), Seq("url"), "left_anti")
      frontierT.replace(live, lastCommittedGeneration)
    }

  // ------------------------------------------------------- verification IO
  def seenSet(): Set[String] =
    seenT.read(spark).map(_.select($"href").as[String].collect().toSet).getOrElse(Set.empty)

  def crawlOrder(): Vector[String] =
    eventsT.read(spark).map(
      _.orderBy($"round", $"scheduled_ms", $"host", $"url")
        .select($"url").as[String].collect().toVector).getOrElse(Vector.empty)

  def docs(): Vector[PageDoc] =
    docsT.read(spark).map(_.as[PageDoc].collect().toVector).getOrElse(Vector.empty)
}
