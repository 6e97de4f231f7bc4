package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchAccess, SparkContext}
import org.apache.spark.scheduler._

/** Spans the benchmark opens around each call it makes into a layer, and
  * a SparkListener that attributes task metrics to them.
  *
  * A span is (name, start, end, parent, pass). While a span is open its id
  * rides on the driver thread as a Spark local property, so every job that
  * thread submits — and every stage and task of that job — is attributed
  * to the innermost open span. Spans and their aggregates stay in memory
  * and are written as JSON when the run ends.
  */
final class Probe(sc: SparkContext) extends SparkListener {
  import Probe._

  private val spans = mutable.ArrayBuffer[Span]()
  private val aggs = mutable.HashMap[Int, Agg]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  // (launch, finish) wall-clock ms of every task, for driver-serial time
  private val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private var open: List[Span] = Nil

  sc.addSparkListener(this)

  def span[T](name: String, pass: Int)(body: => T): T = {
    val s = new Span(synchronized(spans.size), name,
      open.headOption.map(_.id).getOrElse(-1), pass)
    synchronized { spans += s; aggs(s.id) = new Agg }
    open = s :: open
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s.startMs = System.currentTimeMillis(); s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, outer)
      open = open.tail
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
    synchronized {
      id.foreach { i =>
        aggs(i).jobs += 1
        e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, i))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(i => aggs(i).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { i =>
      val a = aggs(i)
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  /** Wait for every queued listener event; call before reading numbers. */
  def drain(): Unit = PerfbenchAccess.drainListenerBus(sc)

  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  private def subtree(s: Span): Seq[Span] = synchronized {
    def go(x: Span): Seq[Span] = x +: spans.filter(_.parent == x.id).toSeq.flatMap(go)
    go(s)
  }

  /** Aggregate of the span and all spans nested in it. */
  def inclusive(s: Span): Agg = synchronized {
    subtree(s).map(x => aggs(x.id)).foldLeft(new Agg)(_ merge _)
  }

  /** The span's duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double = synchronized {
    val kids = spans.filter(_.parent == s.id)
    s.seconds - union(kids.map(k => (k.startNs, k.endNs)).toSeq, s.startNs, s.endNs) / 1e9
  }

  /** Wall seconds within the span during which no task was running. */
  def serialSeconds(s: Span): Double = synchronized {
    val busyMs = union(taskIntervals.toSeq, s.startMs, s.endMs)
    math.max(0.0, (s.endMs - s.startMs - busyMs) / 1e3)
  }

  def toJson: String = synchronized {
    spans.map { s =>
      val a = aggs(s.id)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        f""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_s":${selfSeconds(s)},""" +
        f""""jobs":${a.jobs},"stages":${a.stages},"task_s":${a.taskMs / 1e3},""" +
        f""""gc_s":${a.gcMs / 1e3},"shuffle_write_bytes":${a.shuffleWriteBytes},""" +
        f""""spill_bytes":${a.spillBytes},"output_bytes":${a.outputBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Probe {
  val SpanKey = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int, val pass: Int) {
    var startMs, endMs, startNs, endNs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final class Agg {
    var jobs, stages = 0L
    var taskMs, gcMs, shuffleWriteBytes, spillBytes, outputBytes = 0L
    val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()

    def merge(o: Agg): Agg = {
      val r = new Agg
      r.jobs = jobs + o.jobs; r.stages = stages + o.stages
      r.taskMs = taskMs + o.taskMs; r.gcMs = gcMs + o.gcMs
      r.shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes
      r.spillBytes = spillBytes + o.spillBytes; r.outputBytes = outputBytes + o.outputBytes
      r.stageTaskMs ++= stageTaskMs; r.stageTaskMs ++= o.stageTaskMs
      r
    }

    /** max/median task time of the stage with the most task time: the
      * straggler factor of the stage that dominates the span's work. */
    def skew: Double =
      if (stageTaskMs.isEmpty) 1.0
      else {
        val ts = stageTaskMs.values.maxBy(_.sum).sorted
        val med = ts(ts.length / 2)
        if (med <= 0) 1.0 else ts.last.toDouble / med
      }
  }

  /** Length of the union of [a, b) intervals clipped to [lo, hi). */
  def union(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
