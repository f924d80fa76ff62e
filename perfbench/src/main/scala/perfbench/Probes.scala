package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Order statistics as the benchmark reports them. */
object Stats {
  /** Nearest-rank percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile with at least ten samples above it, and
    * its value. With fewer than 20 samples that is the median, and the
    * percentile says so.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    val p = math.max(50, math.floor(100.0 * (n - 10) / n).toInt)
    (p, percentile(xs, p))
  }

  /** `name_p50`, `name_tail` and the tail's percentile and sample count. */
  def summary(name: String, xs: Seq[Double], out: Out): Unit =
    if (xs.nonEmpty) {
      val (p, v) = tail(xs)
      out.e2e(s"${name}_p50") = median(xs)
      out.e2e(s"${name}_tail") = v
      out.info(s"${name}_tail") = Json.obj("percentile" -> p, "samples" -> xs.size)
    }
}

/** What one run reports to run.py: end-to-end values under the names of the
  * workload's own metrics, per-layer values, and context.
  */
final class Out {
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  var correct = true

  def fail(n: Long, why: String): Unit = { failed += n; problems += why }
  def wrong(why: String): Unit = { correct = false; problems += why }

  def json: String = Json.obj(
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "e2e" -> Json.raw(Json.obj(e2e.toSeq: _*)),
    "layers" -> Json.raw(Json.obj(layers.toSeq: _*)),
    "info" -> Json.raw(info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")),
    "problems" -> Json.raw(problems.map(Json.str).mkString("[", ",", "]")))
}

/** Just enough JSON writing for the harness's output line. */
object Json {
  final case class raw(s: String)

  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Spans recorded by the benchmark's own files around the calls into each
  * layer. Kept in memory; written out when a traced run ends.
  */
final class Spans(enabled: Boolean) {
  import Spans.Span
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()

  /** Runs `f` in a span named `name` (recorded only in a traced run). */
  def apply[T](name: String, parent: Long = 0L)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try f(id)
    finally if (enabled) all.add(Span(id, parent, name, t0, System.nanoTime()))
  }

  def named(name: String): Seq[Span] = all.asScala.filter(_.name == name).toSeq
  def childrenOf(id: Long): Seq[Span] = all.asScala.filter(_.parent == id).toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.asScala.toSeq.sortBy(_.startNs).map(s => Json.obj(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Spans {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** Spark's public job/stage/task events, summed over a measured window. */
final class JobStats extends SparkListener {
  @volatile var on = false
  val jobs = new java.util.concurrent.atomic.LongAdder
  val stages = new java.util.concurrent.atomic.LongAdder
  val tasks = new java.util.concurrent.atomic.LongAdder
  val shuffleRead = new java.util.concurrent.atomic.LongAdder
  val shuffleWrite = new java.util.concurrent.atomic.LongAdder
  val spill = new java.util.concurrent.atomic.LongAdder
  val runMs = new java.util.concurrent.atomic.LongAdder
  val recordsWritten = new java.util.concurrent.atomic.LongAdder
  // the longest task of each completed stage: the stage's share of the
  // critical path when a query's stages run one after another
  private val stageMaxTaskMs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]()
  val criticalMs = new java.util.concurrent.atomic.LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskInfo != null) {
    tasks.increment()
    stageMaxTaskMs.merge((e.stageId, e.stageAttemptId), e.taskInfo.duration, (a, b) => math.max(a, b))
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      runMs.add(m.executorRunTime)
      recordsWritten.add(m.outputMetrics.recordsWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    stages.increment()
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    Option(stageMaxTaskMs.remove(key)).foreach(ms => criticalMs.add(ms))
  }
}

/** Every `StreamingQueryProgress` of the run, in order. */
final class Progress extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)

  /** Progress of batches after `fromBatch` that read input. */
  def batches(fromBatch: Long): Seq[StreamingQueryProgress] =
    all.asScala.toSeq.filter(p => p.batchId > fromBatch && p.numInputRows > 0)

  def duration(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  /** The MemoryStream offset a batch ended at. */
  def endOffset(p: StreamingQueryProgress): Long = p.sources.head.endOffset.trim.toLong

  def stateMetric(p: StreamingQueryProgress, name: String): Double =
    p.stateOperators.map(s => Option(s.customMetrics.get(name)).map(_.doubleValue).getOrElse(0.0)).sum
}
