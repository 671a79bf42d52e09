package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark runtime counters attributed to one span. */
final class SparkCounts {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  /** Summed time tasks waited between stage submission and launch. */
  @volatile var waitMs = 0L

  def asMap: Map[String, Double] = Map(
    "spark.jobs" -> jobs.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "spark.spill_bytes" -> spillBytes.toDouble,
    "spark.executor_cpu_s" -> cpuNs / 1e9,
    "spark.gc_s" -> gcMs / 1e3,
    "spark.scheduler_delay_s" -> waitMs / 1e3)
}

/** Attributes every job, stage and task to the span whose id the
  * submitting thread carried as a local property. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  val counts = new ConcurrentHashMap[java.lang.Long, SparkCounts]()

  def of(span: Long): SparkCounts =
    counts.computeIfAbsent(span, _ => new SparkCounts)

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      val c = of(s)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))
    val submitted: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmit.put(e.stageInfo.stageId, submitted)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null && e.taskMetrics != null) {
      val c = of(s)
      val m = e.taskMetrics
      val submitted = Option(stageSubmit.get(e.stageId)).map(_.longValue)
        .getOrElse(e.taskInfo.launchTime)
      c.synchronized {
        c.tasks += 1
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      }
    }
  }
}

/** One recorded layer call. Times are System.nanoTime. */
final case class Span(id: Long, name: String, parent: Long, op: Int,
    start: Long, end: Long, counts: Map[String, Double]) {
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder for the traced run. Spans stay in memory until the run
  * ends; [[write]] then dumps them with their self time. With no
  * listener attached (the untraced run) every call is a plain call. */
final class Tracer(sc: Option[SparkContext]) {
  private val listener = sc.map { c =>
    val l = new SpanListener
    c.addSparkListener(l)
    l
  }
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var op = -1

  def recorded: Seq[Span] = spans.toSeq

  def beginOp(i: Int): Unit = op = i

  /** Run `body` inside span `name`. */
  def span[T](name: String)(body: => T): T =
    spanWith(name, (_: T) => Map.empty[String, Double])(body)

  /** [[span]] whose `counts` computes layer counts from the body's
    * result, so ratios are taken where the work happens. */
  def spanWith[T](name: String, counts: T => Map[String, Double])(
      body: => T): T = listener match {
    case None => body
    case Some(l) =>
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.get.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try {
        val r = body
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, op, t0, t1, counts(r))
        r
      } finally {
        stack = stack.tail
        sc.get.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
  }

  /** Spark counters of a span and all its descendants, once the
    * listener bus has delivered every event. */
  def sparkTotals(root: Long): Map[String, Double] = listener match {
    case None => Map.empty
    case Some(l) =>
      org.apache.spark.BenchBus.drain(sc.get)
      val kids = spans.groupBy(_.parent)
      def all(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(s => all(s.id)).toSeq
      all(root).map(id => Option(l.counts.get(id)).map(_.asMap).getOrElse(Map.empty))
        .foldLeft(Map.empty[String, Double]) { (acc, m) =>
          m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0d) + v) }
        }
  }

  /** Self time: the span's duration minus the part of it that its
    * child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start - covered) / 1e9
  }

  /** Write every span (with self time and its own Spark counters) as
    * JSON lines. */
  def write(path: java.nio.file.Path): Unit = listener.foreach { l =>
    org.apache.spark.BenchBus.drain(sc.get)
    val lines = spans.sortBy(_.start).map { s =>
      val own = Option(l.counts.get(s.id)).map(_.asMap).getOrElse(Map.empty)
      val fields = Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_s" -> Json.num(s.start / 1e9), "end_s" -> Json.num(s.end / 1e9),
        "dur_s" -> Json.num(s.seconds), "self_s" -> Json.num(selfSeconds(s)),
        "counts" -> Json.obj(s.counts.map { case (k, v) => k -> Json.num(v) }),
        "spark" -> Json.obj(own.map { case (k, v) => k -> Json.num(v) }))
      Json.obj(fields)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def close(): Unit = listener.foreach(l => sc.foreach(_.removeSparkListener(l)))
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Just enough JSON for the result line and the span dump. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
