package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    startMs: Long, var endNs: Long = 0L, var endMs: Long = Long.MaxValue) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work Spark did on behalf of one span, from the listener. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var execRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; execRunMs += o.execRunMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written when the run ends. Spark jobs are tied to spans through the job
  * group, set to `<runId>:<spanId>` while a span is open; jobs started on
  * other threads (the streaming micro-batch thread sets its own group) fall
  * to the innermost span open at their submission time.
  *
  * Disabled, `span` is a plain call: untraced runs pay nothing.
  */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val work = new ConcurrentHashMap[Int, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  @volatile private var drained = false
  private val drainJobs = new ConcurrentHashMap[Int, Boolean]()
  /** Streaming micro-batches with input: (trigger epoch ms, seconds, rows). */
  val batches = ArrayBuffer.empty[(Long, Double, Long)]

  private def group(s: Span) = s"$runId:${s.id}"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = spans.synchronized {
        val s = Span(spans.size, open.headOption.fold(-1)(_.id), name,
          System.nanoTime(), System.currentTimeMillis())
        spans += s
        open = s :: open
        s
      }
      sc.setJobGroup(group(s), name)
      try body
      finally {
        spans.synchronized {
          s.endNs = System.nanoTime()
          s.endMs = System.currentTimeMillis()
          open = open.tail
        }
        open.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  private def spanAt(ms: Long): Int = spans.synchronized {
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => -s.startNs).headOption.fold(-1)(_.id)
  }

  private def workOf(id: Int): Work = work.computeIfAbsent(id, _ => new Work)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val id = g.filter(_.startsWith(runId + ":")).map(_.drop(runId.length + 1))
      if (id.contains("drain")) { drainJobs.put(e.jobId, true); return }
      val spanId = id.map(_.toInt).getOrElse(spanAt(e.time))
      val w = workOf(spanId)
      w.synchronized { w.jobs += 1 }
      e.stageIds.foreach(stageSpan.put(_, spanId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (drainJobs.containsKey(e.jobId)) drained = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val w = workOf(stageSpan.getOrDefault(e.stageId, -1))
      w.synchronized {
        w.tasks += 1
        w.execRunMs += m.executorRunTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) batches.synchronized {
        batches += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.batchDuration / 1e3, p.numInputRows))
      }
    }
  }

  /** Blocks until the listener has seen every event posted so far: the bus
    * delivers in order, so the end of a marker job follows every earlier
    * task end.
    */
  def drain(): Unit = if (enabled) {
    drained = false
    sc.setJobGroup(s"$runId:drain", "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10e9.toLong
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Micro-batches that started inside a span named `name`. */
  def batchesIn(name: String): (Int, Seq[(Double, Long)]) = {
    val ss = all.filter(_.name == name)
    val bs = batches.synchronized(batches.toList)
      .filter(b => ss.exists(s => s.startMs <= b._1 && b._1 <= s.endMs))
    (ss.size, bs.map(b => (b._2, b._3)))
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def children(id: Int): Seq[Span] = all.filter(_.parent == id)

  /** Work of a span and all its descendants. */
  def subtreeWork(id: Int): Work = {
    val w = new Work
    def go(i: Int): Unit = {
      Option(work.get(i)).foreach(w.add)
      children(i).foreach(c => go(c.id))
    }
    go(id)
    w
  }

  /** Span duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val cs = children(s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    cs.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = all.map { s =>
    val w = subtreeWork(s.id)
    f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f,""" +
      f""""jobs":${w.jobs},"tasks":${w.tasks},"exec_run_ms":${w.execRunMs},""" +
      f""""shuffle_write_bytes":${w.shuffleWriteBytes},"spill_bytes":${w.spillBytes}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
