package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Command-line arguments of one benchmark run (see README.md). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    size: String, // "full" (the recorded shape) or "tiny" (smoke tests)
    work: Path, // scratch dir for stores and checkpoints, deleted by run.py
    traceOut: Path, // where the traced run writes its spans
    tamper: Boolean) // corrupt one expected output, to test the checks

object Args {
  val Workloads: Seq[String] = Seq("crawl-fresh", "crawl-recrawl", "stream-dedup")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", kv.getOrElse("size", "full"), Paths.get(need("work")),
      Paths.get(need("trace-out")), kv.get("tamper").contains("1"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(Set("full", "tiny").contains(a.size), s"unknown size ${a.size}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }
}

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back to [[Main]]: end-to-end metrics (tracing
  * off), per-layer metrics (meaningful only in the traced run), the
  * attempted/failed tally and the output checks.
  */
final case class Outcome(
    endToEnd: Seq[Metric],
    perLayer: Seq[Metric],
    attempted: Int,
    failed: Int,
    checks: Seq[Check],
    stepP50S: Double,
    steps: Int)

final case class Check(name: String, ok: Boolean, detail: String)

/** Step timer shared by the workloads: a step that throws is counted as
  * failed and never becomes a timing sample.
  */
final class Steps {
  final case class Step(id: String, startMs: Long, endMs: Long, wallS: Double)
  val done: ArrayBuffer[Step] = ArrayBuffer.empty
  var failed = 0

  /** Runs `body` as step `id`; returns false when it threw. */
  def run(id: String)(body: => Unit): Boolean = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      body
      done += Step(id, startMs, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
      true
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] step $id failed: $e")
        false
    }
  }

  def walls: Seq[Double] = done.map(_.wallS).toSeq
  def totalS: Double = walls.sum
}

/** Output checks: each counts as one attempt; a failing or throwing check
  * counts as one failure.
  */
final class Checks {
  val all: ArrayBuffer[Check] = ArrayBuffer.empty

  def check(name: String)(body: => (Boolean, String)): Unit = {
    val c = try { val (ok, d) = body; Check(name, ok, d) } catch {
      case e: Exception => Check(name, ok = false, s"threw $e")
    }
    if (!c.ok) System.err.println(s"[perfbench] check ${c.name} FAILED: ${c.detail}")
    all += c
  }

  def failed: Int = all.count(!_.ok)
}

object Harness {
  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // the crawl commit window runs ~10 concurrent write jobs in
      // per-commit pools; FIFO would let one of them hold every slot
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def ratio(num: Double, den: Double): Double = if (den == 0.0) 0.0 else num / den

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  val MB: Double = 1024.0 * 1024.0

}

/** GC time summed over the measured steps only, so the traced run's probes
  * between steps do not count.
  */
final class JvmWindow {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
  private var gcTotalMs = 0L

  def measure[T](body: => T): T = {
    val gc0 = gcMs
    try body finally gcTotalMs += gcMs - gc0
  }

  def gcS: Double = gcTotalMs / 1e3
}
