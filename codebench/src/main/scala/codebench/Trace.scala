package codebench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. `request` groups the spans of one benchmark operation;
  * wall-clock millis align spans with Spark's stage timestamps.
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark work attributed to one span. */
final class SparkTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
  var shuffleBytes = 0L; var inputBytes = 0L
  val stageWindows = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes Spark jobs to spans through a local property that Tracer
  * sets around each traced call. Local properties travel with the job, so
  * no shared variable can race with the listener thread. The span id has a
  * property of its own, not the job group, because IndexBuilder sets and
  * clears job groups around its stages.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val bySpan = mutable.HashMap.empty[Int, SparkTotals]
  private def totals(span: Int) = bySpan.getOrElseUpdate(span, new SparkTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .foreach { id =>
        val span = id.toInt
        totals(span).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach { span =>
        val t = totals(span)
        t.stages += 1
        for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
          t.stageWindows += ((s, c))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val t = totals(span)
      t.tasks += 1
      t.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        t.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}

/** Spans kept in memory, recorded from the benchmark's own code around
  * calls into each layer. Disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var request = -1
  private var on = enabled
  val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  /** Runs `f` with tracing switched to `traced` (for the interleaved
    * untraced samples a traced run takes to measure its own overhead).
    */
  def withTracing[T](traced: Boolean)(f: => T): T = {
    val prev = on
    on = enabled && traced
    try f finally on = prev
  }
  def tracing: Boolean = on

  /** Starts a new request; the spans that follow belong to it. */
  def newRequest(): Int = { request += 1; request }

  def span[T](name: String)(f: => T): T = {
    if (!on) return f
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += null
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try f finally {
      spans(id) = Span(id, name, parent, request, s0, System.nanoTime(),
        m0, System.currentTimeMillis())
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Waits until the listener has seen every event of the calls so far. */
  def drain(): Unit = if (enabled) org.apache.spark.CodebenchBus.drain(sc)
  def all: Seq[Span] = spans.iterator.filter(_ != null).toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spark totals of a span and all spans below it. */
  def sparkOf(s: Span): SparkTotals = {
    val out = new SparkTotals
    val kids = all.groupBy(_.parent)
    def walk(x: Span): Unit = {
      listener.bySpan.get(x.id).foreach { t =>
        out.jobs += t.jobs; out.stages += t.stages; out.tasks += t.tasks
        out.taskMs += t.taskMs; out.shuffleBytes += t.shuffleBytes
        out.inputBytes += t.inputBytes; out.stageWindows ++= t.stageWindows
      }
      kids.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    out
  }

  /** Part of a span's wall time during which none of its stages ran:
    * driver planning, scheduling and result handling.
    */
  def idleMs(s: Span): Double = {
    val w = sparkOf(s).stageWindows
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    w.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, s.ms - covered)
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover, summed by layer (the span name's prefix), over
    * the spans of operations (set-up spans belong to none).
    */
  def selfMsByLayer: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.filter(_.request >= 0).map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.ms).sum
      s.layer -> math.max(0.0, s.ms - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""request":${s.request},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProperty = "codebench.span"
}

/** Old-generation occupancy right after a full collection: the live
  * heap, sampled at fixed points of the measured phase. Two collections a
  * moment apart, so that what Spark's ContextCleaner releases after the
  * first (unreferenced broadcasts and shuffles) is gone by the second.
  */
final class HeapSampler {
  private val old = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  var peakMb = 0.0
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val mb = old.map(_.getUsage.getUsed / 1048576.0).getOrElse(
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0)
    peakMb = math.max(peakMb, mb)
  }
}

object Stats {
  /** Median of a non-empty sample (mean of the middle two when even). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Bytes of all files under `root`. */
  def du(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
