package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Per-stage record kept by [[LayerListener]]; `name` is the stage's call
  * site.
  */
final case class StageRec(
    id: Int, name: String, submitMs: Long, completeMs: Long,
    tasks: Int, taskMs: Long, shuffleWriteB: Long, spillB: Long, outputB: Long)

/** Aggregates jobs, stages and task metrics. Registered only in the traced
  * run; everything is kept in memory and attributed to steps afterwards by
  * time window (the load is closed-loop: one step runs at a time).
  */
final class LayerListener extends SparkListener {
  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val jobEnds = new AtomicLong()
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())
  private final class TaskAgg { var ms, shuffleW, spill, out = 0L }
  private val tasks = mutable.HashMap.empty[(Int, Int), TaskAgg]
  private val stages = new ConcurrentLinkedQueue[StageRec]()

  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.add(e.time); touch() }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.incrementAndGet(); touch() }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.synchronized {
      val a = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskAgg)
      a.ms += m.executorRunTime
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.out += m.outputMetrics.bytesWritten
    }
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val a = tasks.synchronized(tasks.remove((si.stageId, si.attemptNumber())))
      .getOrElse(new TaskAgg)
    val submit = si.submissionTime.getOrElse(0L)
    stages.add(StageRec(si.stageId, si.name, submit, si.completionTime.getOrElse(submit), si.numTasks, a.ms, a.shuffleW, a.spill, a.out))
    touch()
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment, so that all events of finished work are recorded.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (System.currentTimeMillis() < deadline &&
      (jobEnds.get < jobStarts.size || System.currentTimeMillis() - lastEventMs.get < 300))
      Thread.sleep(50)
  }

  def jobTimes: Seq[Long] = jobStarts.asScala.toSeq
  def stageRecs: Seq[StageRec] = stages.asScala.toSeq
}

/** Micro-batch boundaries of a streaming query, from its progress events. */
final class ProgressListener extends StreamingQueryListener {
  final case class Batch(id: Long, startMs: Long, triggerMs: Long, addBatchMs: Long, rows: Long)
  private val seen = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      seen.add(Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli,
        dur("triggerExecution"), dur("addBatch"), p.numInputRows))
    }
  }

  def batches: Seq[Batch] = seen.asScala.toSeq.sortBy(_.startMs)
}

/** Samples every JVM thread's stack every `periodMs` (traced run only) and
  * records, per tick, the heap in use and the program modules whose code is
  * innermost on some thread: driver threads waiting on the jobs a module
  * submitted, commit threads, and (local mode) task threads running module
  * code. Module time comes from here, not from stage call sites: adaptive
  * execution submits most stages from its own threads, and Structured
  * Streaming pins the call site of every job of a query to the line that
  * started it, so few stages carry a program call site.
  */
final class StackSampler(periodMs: Long = 50) {
  private final case class Tick(t0: Long, t1: Long, heapB: Long, modules: Set[String])
  private val ticks = new ConcurrentLinkedQueue[Tick]()
  private val heap = ManagementFactory.getMemoryMXBean
  @volatile private var running = true
  private val thread = new Thread(() => {
    var last = System.currentTimeMillis()
    while (running) {
      val mods = Thread.getAllStackTraces.values.asScala.flatMap { st =>
        st.iterator.map(_.getClassName).find(_.startsWith("graft.")).map(StackSampler.moduleOf)
      }.toSet
      val now = System.currentTimeMillis()
      ticks.add(Tick(last, now, heap.getHeapMemoryUsage.getUsed, mods))
      last = now
      Thread.sleep(periodMs)
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }

  private def within(w0: Long, w1: Long) = ticks.asScala.toSeq.filter(k => k.t1 >= w0 && k.t1 <= w1)

  /** Seconds of [w0, w1] during which each module was on some stack. */
  def moduleSeconds(w0: Long, w1: Long): Map[String, Double] =
    within(w0, w1).flatMap(k => k.modules.toSeq.map(_ -> (k.t1 - math.max(k.t0, w0)) / 1e3))
      .groupMapReduce(_._1)(_._2)(_ + _)

  def heapPeakB(w0: Long, w1: Long): Long = within(w0, w1).map(_.heapB).maxOption.getOrElse(0L)
}

object StackSampler {
  /** `graft.snapshot.SnapshotTable` → "snapshot"; top-level → "graft". */
  def moduleOf(cls: String): String = {
    val parts = cls.split('.')
    if (parts.length >= 3) parts(1) else "graft"
  }
}

/** Listener totals attributed to one step (generation or micro-batch). */
final case class StepAgg(
    id: String, wallS: Double, jobs: Int, stages: Int, taskS: Double,
    shuffleWriteB: Long, spillB: Long, outputB: Long,
    moduleS: Map[String, Double], stageBusyS: Double, heapPeakB: Long)

/** The traced run's instruments: the [[LayerListener]], timed calls into
  * the program's public functions ("probes", always made between steps,
  * outside any timed window) and spans. Spans of one step share its id as
  * their trace id; they are kept in memory and written when the run ends.
  */
final class Tracer(spark: SparkSession) {
  val layers = new LayerListener
  spark.sparkContext.addSparkListener(layers)
  private val sampler = new StackSampler

  private final case class Span(trace: String, id: Long, parent: Long, name: String,
                                startMs: Long, endMs: Long, attrs: Map[String, Any])
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  /** Times a call into the program made to measure one layer. */
  def probe[T](trace: String, name: String)(body: => T): (T, Double) = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    spans += Span(trace, newId(), 0L, s"probe:$name", startMs, System.currentTimeMillis(), Map.empty)
    (r, s)
  }

  /** Attributes listener records to step windows (id, startMs, endMs) and
    * records one span per step with a child span per stage.
    */
  def attribute(windows: Seq[(String, Long, Long)]): Seq[StepAgg] = {
    layers.drain()
    val jobs = layers.jobTimes
    val stages = layers.stageRecs
    windows.map { case (id, w0, w1) =>
      def inside(t: Long) = t >= w0 && t <= w1
      val st = stages.filter(s => inside(s.submitMs))
      val stepSpan = newId()
      spans += Span(id, stepSpan, 0L, "step", w0, w1, Map.empty)
      st.foreach(s => spans += Span(id, newId(), stepSpan, "stage", s.submitMs,
        s.completeMs, Map("stage" -> s.id, "call_site" -> s.name, "tasks" -> s.tasks,
          "task_ms" -> s.taskMs, "shuffle_write_b" -> s.shuffleWriteB,
          "output_b" -> s.outputB)))
      val stageBusyS = Tracer.unionMs(st.map(s =>
        (math.max(s.submitMs, w0), math.min(math.max(s.completeMs, s.submitMs), w1)))) / 1e3
      StepAgg(id, (w1 - w0) / 1e3, jobs.count(inside), st.size, st.map(_.taskMs).sum / 1e3,
        st.map(_.shuffleWriteB).sum, st.map(_.spillB).sum, st.map(_.outputB).sum,
        sampler.moduleSeconds(w0, w1), stageBusyS, sampler.heapPeakB(w0, w1))
    }
  }

  def close(): Unit = {
    sampler.stop()
    spark.sparkContext.removeSparkListener(layers)
  }

  def writeSpans(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map(s => Serialization.write(Map("trace" -> s.trace, "span" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "attrs" -> s.attrs))(DefaultFormats))
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Length of the union of intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer metrics every workload derives from its steps' listener
    * totals. A "gen" is a crawl generation or a stream micro-batch (the
    * stream stamps each micro-batch as one table generation).
    */
  def pipelineMetrics(aggs: Seq[StepAgg], cores: Int): Seq[Metric] = {
    val n = math.max(1, aggs.size).toDouble
    val wall = aggs.map(_.wallS).sum
    def per(f: StepAgg => Double) = aggs.map(f).sum / n
    // seconds per step with the module's code on some thread's stack
    def moduleS(m: String) = per(_.moduleS.getOrElse(m, 0.0))
    Seq(
      Metric("pipeline.jobs_per_gen", per(_.jobs), "count"),
      Metric("pipeline.stages_per_gen", per(_.stages), "count"),
      Metric("pipeline.busy_frac", Harness.ratio(aggs.map(_.taskS).sum, cores * wall), "ratio"),
      Metric("pipeline.task_s_per_gen", per(_.taskS), "s"),
      Metric("pipeline.shuffle_mb_per_gen", per(_.shuffleWriteB / Harness.MB), "MB"),
      Metric("pipeline.spill_mb_per_gen", per(_.spillB / Harness.MB), "MB"),
      Metric("pipeline.stage_s", moduleS("pipeline"), "s"),
      Metric("pipeline.driver_s_per_gen", per(a => a.wallS - a.stageBusyS), "s"),
      Metric("snapshot.stage_s", moduleS("snapshot"), "s"),
      Metric("snapshot.bytes_written_per_gen", per(_.outputB.toDouble), "bytes"),
      Metric("streaming.stage_s", moduleS("streaming"), "s"),
      Metric("ml.stage_s", moduleS("ml"), "s"),
      Metric("synth.stage_s", moduleS("synth"), "s"),
      Metric("functions.stage_s", moduleS("functions"), "s"),
      Metric("operators.stage_s", moduleS("operators"), "s"),
      Metric("jvm.heap_peak_mb", aggs.map(_.heapPeakB).maxOption.getOrElse(0L) / Harness.MB, "MB"))
  }
}
