package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the calls the benchmark makes into each layer.
  *
  * A span has a layer, a name, start and end (ns on this JVM's monotonic
  * clock), its parent span and the trace id of the operation it belongs to.
  * Spark stage and task spans come from [[SparkSpans]]: the job group is set
  * to the innermost open span, so every stage is parented to the call that
  * caused it. Tracing is off (every method a pass-through) until `on` is set.
  */
final class Tracer(sc: SparkContext) {
  final case class Span(trace: Long, id: Long, parent: Long, layer: String, name: String,
      start: Long, end: Long)

  @volatile var on = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private var stack: List[(Long, Long)] = Nil // (trace, span) of open spans, innermost first
  private val clockNs = System.nanoTime()
  private val clockMs = System.currentTimeMillis()

  /** Stage and task spans of the traced ops. */
  val listener = new SparkSpans(this)

  def newId(): Long = synchronized { nextId += 1; nextId }
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized(spans.toList)

  /** Epoch milliseconds (Spark's task and stage clocks) on the span clock. */
  def fromEpochMs(ms: Long): Long = clockNs + (ms - clockMs) * 1000000L

  /** One operation of the closed loop. Traced, it is the root span of a
    * new trace; untraced, a pass-through. */
  def op[A](kind: String)(body: => A): A = {
    if (!on) return body
    val saved = stack
    stack = Nil
    try span("op", kind)(body)
    finally { stack = saved; sc.clearJobGroup() }
  }

  def span[A](layer: String, name: String)(body: => A): A = {
    if (!on) return body
    val id = newId()
    val (trace, parent) = stack.headOption.getOrElse((id, 0L))
    stack = (trace, id) :: stack
    sc.setJobGroup(s"$trace:$id", s"$layer.$name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      add(Span(trace, id, parent, layer, name, t0, System.nanoTime()))
      stack = stack.tail
      stack.headOption.foreach { case (t, p) => sc.setJobGroup(s"$t:$p", "", interruptOnCancel = false) }
    }
  }

  /** Median duration in ms of the spans with this layer and name. */
  def medianMs(layer: String, name: String): Double =
    Stat.median(all.filter(s => s.layer == layer && s.name == name).map(s => (s.end - s.start) / 1e6))

  /** Self time per span: its duration minus the part of it that its
    * children's intervals cover. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- iv) {
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.end - s.start - covered)
    }.toMap
  }

  /** Self ms per layer over all spans. */
  def selfMsByLayer(): Map[String, Double] = {
    val ss = all
    val self = selfNs(ss)
    ss.groupBy(_.layer).map { case (l, xs) => l -> xs.map(s => self(s.id)).sum / 1e6 }
  }

  /** Writes every span (with its self time) and the run's summary. */
  def write(file: File, summary: Map[String, Double]): Unit = {
    val ss = all
    val self = selfNs(ss)
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try {
      w.println("{\"summary\": " + Json.obj(summary.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }) + ",")
      w.println(" \"spans\": [")
      w.println(ss.sortBy(_.start).map { s =>
        Json.obj(Seq("trace" -> s.trace.toString, "id" -> s.id.toString, "parent" -> s.parent.toString,
          "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
          "start_ns" -> (s.start - clockNs).toString, "end_ns" -> (s.end - clockNs).toString,
          "self_ns" -> self(s.id).toString))
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}

/** Stage and task spans of the traced ops, plus their summed task metrics.
  * Stages find their parent span through the job group [[Tracer.span]] set. */
final class SparkSpans(tr: Tracer) extends SparkListener {
  private val stageParent = mutable.HashMap[Int, (Long, Long)]()
  private val tasks = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[(Long, Long, String)]]()
  private var jobsOpen = 0
  private var events = 0L
  var tracedCpuNs = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var nTasks = 0L

  private def parentOf(props: java.util.Properties): Option[(Long, Long)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.split(":") match {
        case Array(t, s) => scala.util.Try((t.toLong, s.toLong)).toOption
        case _ => None
      })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    jobsOpen += 1
    parentOf(e.properties).foreach(p => e.stageIds.foreach(stageParent(_) = p))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { events += 1; jobsOpen -= 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    if (stageParent.contains(e.stageId)) {
      val i = e.taskInfo
      tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) +=
        ((i.launchTime, i.finishTime, s"task ${i.index}"))
      val m = e.taskMetrics
      if (m != null) {
        tracedCpuNs += m.executorCpuTime
        taskRunMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
      nTasks += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val si = e.stageInfo
    for ((trace, parent) <- stageParent.get(si.stageId);
         sub <- si.submissionTime; done <- si.completionTime) {
      val id = tr.newId()
      tr.add(tr.Span(trace, id, parent, "spark", s"stage ${si.stageId}", tr.fromEpochMs(sub), tr.fromEpochMs(done)))
      for ((a, b, n) <- tasks.remove((si.stageId, si.attemptNumber())).getOrElse(Nil))
        tr.add(tr.Span(trace, tr.newId(), id, "spark", n, tr.fromEpochMs(a), tr.fromEpochMs(b)))
    }
  }

  /** Waits (bounded) until the listener bus has delivered the end of
    * every job started so far, and has then been quiet for 20 ms. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (synchronized(jobsOpen) > 0 || synchronized(events) != last)) {
      last = synchronized(events)
      Thread.sleep(20)
    }
  }
}
