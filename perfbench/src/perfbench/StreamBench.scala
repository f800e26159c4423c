package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import graft.ml.{TextAnalysis, TextDedup}
import graft.snapshot.SnapshotStore
import graft.streaming.DedupStream
import graft.util.Hashing.{bounded, boundedLong, det}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** The `stream-dedup` workload: a seeded stream of parquet files, one
  * micro-batch each, drained through `DedupStream.ingest` with a redirects
  * table; then one maintenance pass; then the drained pairs and redirects
  * are checked against `TextDedup.minhashNearDups` and
  * `TextDedup.resolveClusters` over the whole corpus.
  */
object StreamBench {

  /** `batchS` is the nominal micro-batch wall on a 4-core host; the timed
    * drain streams `seconds / batchS` files (at least `minBatches`).
    */
  final case class Shape(docsPerBatch: Int, batchS: Double, minBatches: Int)

  def shape(size: String): Shape =
    if (size == "full") Shape(1000, 7.5, 2) else Shape(60, 1000.0, 2)

  val Threshold = 0.8
  private val Words = 200
  private val Vocab = 400

  // ---- seeded corpus with planted near-duplicates -----------------------
  // Doc ids are k * docsPerBatch + i. Most docs are fresh random text
  // (cross-doc shingle overlap ~0). Planted roles, by a hash of the id:
  //  - near: a one-token append to an earlier doc of the same batch or of
  //    an earlier batch (Jaccard ~0.99), so pairs arise within and across
  //    batches and clusters grow across batches;
  //  - far: 10 spread substitutions of an earlier fresh doc (Jaccard ~0.74,
  //    not a pair), which starts a second cluster next to the first;
  //  - bridge: 5 of the same 10 substitutions (Jaccard ~0.86 to both), which
  //    merges the two clusters in a later batch.
  private sealed trait Role
  private case object Fresh extends Role
  private final case class Near(src: Long) extends Role
  private final case class Far(src: Long) extends Role
  private final case class Bridge(src: Long) extends Role

  /** Planted kind from the id's hash alone: 0 fresh, 1 near (same batch),
    * 2 near (earlier batch), 3 far, 4 bridge.
    */
  private def kindOf(seed: Long, d: Int, id: Long): Int = {
    val (k, i) = (id / d, id % d)
    val r = bounded(det(seed, "role", id), 1000)
    if (r < 40 && i > 0) 1
    else if (r < 80 && k > 0) 2
    else if (r < 90 && k > 0) 3
    else if (r < 100 && k > 1) 4
    else 0
  }

  /** A fresh doc with id below `limit`, drawn by hash (None if 8 draws miss). */
  private def freshBefore(seed: Long, d: Int, limit: Long, id: Long, salt: String): Option[Long] =
    (0 until 8).iterator.map(j => boundedLong(det(seed, salt, id, j), limit))
      .find(kindOf(seed, d, _) == 0)

  private def role(seed: Long, d: Int, id: Long): Role = {
    val batchStart = id / d * d
    kindOf(seed, d, id) match {
      case 1 => freshBefore(seed, d, id, id, "within").map(Near).getOrElse(Fresh)
      case 2 => freshBefore(seed, d, batchStart, id, "cross").map(Near).getOrElse(Fresh)
      case 3 => freshBefore(seed, d, batchStart, id, "far").map(Far).getOrElse(Fresh)
      case 4 =>
        // the source of a far doc from an earlier batch: merges its cluster
        // with the far doc's
        (0 until 8).iterator.map(j => boundedLong(det(seed, "bridge", id, j), batchStart))
          .filter(kindOf(seed, d, _) == 3)
          .flatMap(f => freshBefore(seed, d, f / d * d, f, "far")).nextOption()
          .map(Bridge).getOrElse(Fresh)
      case _ => Fresh
    }
  }

  private def freshTokens(seed: Long, id: Long): Array[String] =
    Array.tabulate(Words)(j => s"w${bounded(det(seed, "tok", id, j), Vocab)}")

  /** Ten substitution positions, at least 14 apart so no shingle spans two. */
  private def positions(seed: Long, src: Long): Seq[Int] =
    (0 until 10).map(t => 8 + t * 18 + bounded(det(seed, "pos", src, t), 4))

  private def substituted(seed: Long, src: Long, n: Int): String = {
    val toks = freshTokens(seed, src)
    positions(seed, src).take(n).zipWithIndex.foreach { case (p, t) => toks(p) = s"s${src}x$t" }
    toks.mkString(" ")
  }

  def text(seed: Long, d: Int, id: Long): String = role(seed, d, id) match {
    case Fresh => freshTokens(seed, id).mkString(" ")
    case Near(s) => freshTokens(seed, s).mkString(" ") + s" n$id"
    case Far(s) => substituted(seed, s, 10)
    case Bridge(s) => substituted(seed, s, 5)
  }

  /** Writes batch k's docs as `dirOf(k)/k.parquet`, one file per batch in
    * one Spark job, with increasing mtimes so the file source takes them in
    * batch order.
    */
  private def writeBatches(spark: SparkSession, work: Path, seed: Long, d: Int, n: Int)
                          (dirOf: Int => Path): Unit = {
    import spark.implicits._
    val tmp = work.resolve("stream-gen")
    (0 until n * d).map(id => (id.toLong, text(seed, d, id.toLong), id / d)).toDF("doc_id", "text", "k")
      .repartition($"k").write.partitionBy("k").parquet(tmp.toString)
    (0 until n).foreach { k =>
      val part = Files.list(tmp.resolve(s"k=$k")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = dirOf(k).resolve(f"$k%04d.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000000000L + k * 1000L))
    }
    Harness.deleteTree(tmp)
  }

  def run(spark: SparkSession, a: Args, cores: Int, sessionS: Double,
          tracer: Option[Tracer]): Outcome = {
    import spark.implicits._
    val sh = shape(a.size)
    val nBatches = math.max(sh.minBatches, math.round(a.seconds / sh.batchS).toInt)
    val d = sh.docsPerBatch
    // ---- set-up: inputs, then batch 0 of the stream drained untimed (the
    // warm-up); the timed drain restarts the same query on batches 1..K
    val src = Files.createDirectories(a.work.resolve("stream-src"))
    val pending = Files.createDirectories(a.work.resolve("stream-pending"))
    val storeDir = a.work.resolve("stream-store")
    val store = SnapshotStore(storeDir.toString)
    val tables = Seq("corpus", "near_dup_pairs", "band_index", "redirects").map(store.table)
    val Seq(corpusT, pairsT, indexT, redirT) = tables
    def drain(): Boolean = {
      val q = DedupStream.ingest(spark, src.toString, corpusT, pairsT, indexT,
        a.work.resolve("stream-ckpt").toString, threshold = Threshold, redirectsTable = Some(redirT))
      val ok = q.awaitTermination(150000) && q.exception.isEmpty
      if (!ok) { q.stop(); System.err.println(s"[perfbench] drain failed: ${q.exception}") }
      ok
    }
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val (_, setupS) = Harness.timeS {
      writeBatches(spark, a.work, a.seed, d, nBatches + 1)(k => if (k == 0) src else pending)
      require(drain(), "warm-up batch failed")
    }
    Files.list(pending).iterator.asScala.toSeq.foreach(f => Files.move(f, src.resolve(f.getFileName)))

    // ---- timed drain of batches 1..K
    val jvm = new JvmWindow
    val storeBefore = Harness.dirBytes(storeDir)
    val timedStartMs = System.currentTimeMillis()
    def timedBatches = progress.batches.filter(_.startMs >= timedStartMs)
    val (drained, drainS) = Harness.timeS(jvm.measure(drain()))
    val deadline = System.currentTimeMillis() + 5000
    while (timedBatches.size < nBatches && System.currentTimeMillis() < deadline) Thread.sleep(20)
    spark.streams.removeListener(progress)
    val batches = timedBatches
    val failedBatches = if (drained) nBatches - batches.size else math.max(1, nBatches - batches.size)
    val storeDrained = Harness.dirBytes(storeDir)
    val docsIn = corpusT.currentSnapshot.map(_.rowCount).getOrElse(0L) - d
    val notKept = DedupStream.latestRedirects(spark, redirT).filter(!$"kept" && $"doc_id" >= d).count()

    // ---- maintenance (one attempt): the between-runs pass for the stream's
    // tables, as CrawlEngine.maintain is for the crawl's
    val maintainS = try Some(Harness.timeS {
      DedupStream.compactRedirects(spark, redirT)
      Seq(corpusT, pairsT, indexT).foreach(_.compact(spark))
      tables.foreach(_.vacuum(2))
    }._2) catch {
      case e: Exception => System.err.println(s"[perfbench] maintain failed: $e"); None
    }
    val storeMb = Harness.dirBytes(storeDir) / Harness.MB

    // ---- output checks against the batch operators over the whole corpus
    val checks = new Checks
    val all = spark.read.parquet(src.toString)
    val streamPairs = pairsT.read(spark).map(_.select($"a", $"b").as[(Long, Long)].collect().toSet)
      .getOrElse(Set.empty)
    // the two batch operators are independent: run them concurrently
    val resolved = Future(TextDedup.resolveClusters(all, Threshold, TextAnalysis.qualityScore)
      .select($"doc_id", $"survivor_id", $"kept").as[(Long, Long, Boolean)].collect())
    val expectedPairs = TextDedup.minhashNearDups(all, Threshold)
      .select($"a", $"b").as[(Long, Long)].collect().toSet ++
      (if (a.tamper) Set((-1L, -2L)) else Set.empty)
    checks.check("drained_docs") {
      (docsIn == nBatches.toLong * d, s"timed drain added $docsIn docs, streamed ${nBatches.toLong * d}")
    }
    checks.check("pairs") {
      (streamPairs == expectedPairs && expectedPairs.nonEmpty,
        s"stream ${streamPairs.size}, batch ${expectedPairs.size}, " +
          s"only-stream ${(streamPairs -- expectedPairs).size}, only-batch ${(expectedPairs -- streamPairs).size}")
    }
    checks.check("redirects") {
      val view = DedupStream.latestRedirects(spark, redirT)
        .as[(Long, Long, Boolean)].collect().toSet
      val endpoints = expectedPairs.flatMap(p => Seq(p._1, p._2))
      val batch = Await.result(resolved, Duration.Inf).filter(r => endpoints(r._1)).toSet
      (view == batch, s"stream ${view.size} rows, batch ${batch.size}, " +
        s"only-stream ${(view -- batch).size}, only-batch ${(batch -- view).size}")
    }

    val triggerS = batches.map(_.triggerMs / 1e3)
    val stepP50 = Harness.median(triggerS)
    val e2e = Seq(
      Metric("setup_s", sessionS + setupS, "s"),
      Metric("input_per_s", Harness.ratio(docsIn.toDouble, drainS), "1/s"),
      Metric("admitted_per_s", Harness.ratio((docsIn - notKept).toDouble, drainS), "1/s"),
      Metric("step_p50_s", stepP50, "s"),
      Metric("store_mb", storeMb, "MB"))
    val layers = tracer.toSeq.flatMap { t =>
      val aggs = t.attribute(batches.map(b => (s"batch-${b.id}", b.startMs, b.startMs + b.triggerMs)))
      val (lshCandidates, _) = t.probe("drain", "ml.lsh_candidates") {
        TextDedup.minhashLshCandidates(all, logDrops = false).count()
      }
      val quarter = math.max(1, batches.size / 4)
      val n = math.max(1, batches.size).toDouble
      val allN = nBatches + 1.0 // pairs and candidates span the warm-up batch too
      Tracer.pipelineMetrics(aggs, cores) ++ Seq(
        Metric("streaming.jobs_per_batch", aggs.map(_.jobs).sum / n, "count"),
        Metric("streaming.add_batch_s", Harness.median(batches.map(_.addBatchMs / 1e3)), "s"),
        Metric("streaming.trigger_overhead_s",
          Harness.median(batches.map(b => (b.triggerMs - b.addBatchMs) / 1e3)), "s"),
        Metric("streaming.late_early_ratio", Harness.ratio(
          Harness.median(triggerS.takeRight(quarter)), Harness.median(triggerS.take(quarter))), "ratio"),
        Metric("ml.lsh_candidates", lshCandidates / allN, "count"),
        Metric("ml.pairs", streamPairs.size / allN, "count"),
        Metric("ml.verify_yield", Harness.ratio(streamPairs.size.toDouble, lshCandidates.toDouble), "ratio"),
        Metric("snapshot.maintain_s", maintainS.getOrElse(0.0), "s"),
        Metric("snapshot.write_amp", Harness.ratio(aggs.map(_.outputB).sum.toDouble, (storeDrained - storeBefore).toDouble), "ratio"),
        Metric("jvm.gc_s", jvm.gcS, "s"))
    }
    Outcome(e2e, layers,
      attempted = nBatches + 1 + checks.all.size,
      failed = failedBatches + (if (maintainS.isEmpty) 1 else 0) + checks.failed,
      checks.all.toSeq, stepP50, batches.size)
  }
}
