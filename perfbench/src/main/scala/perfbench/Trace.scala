package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.Success

/** Spans recorded around the benchmark's calls into the engine's modules,
  * plus Spark task metrics summed per call.
  *
  * A span is (id, name, layer, start, end, parent, op). While a span is
  * open, the benchmark-owned local property [[CallProperty]] names it, so
  * every job submitted under it — including jobs from threads Spark forks
  * off the caller, such as a streaming query's execution thread — is
  * charged to it by [[TaskListener]]. With tracing off, [[span]] only runs
  * its body.
  */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  import Trace._

  // Ops may run on several threads at once (the warm-up ops do): the open
  // spans and the current op are per thread, like Spark's local properties.
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val opId = ThreadLocal.withInitial[Int](() => -1)

  def beginOp(op: Int): Unit = opId.set(op)

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = spans.synchronized {
        val s = Span(spans.size, name, layer, System.nanoTime(), 0L, open.get.headOption.getOrElse(-1),
          opId.get)
        spans += s
        s
      }
      val prev = sc.getLocalProperty(CallProperty)
      sc.setLocalProperty(CallProperty, s.id.toString)
      open.set(s.id :: open.get)
      try body
      finally {
        s.end = System.nanoTime()
        open.set(open.get.tail)
        sc.setLocalProperty(CallProperty, prev)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Span duration minus the part of it that its child spans cover. */
  def selfNanos(s: Span): Long = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    for ((a, b) <- kids) {
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (kids.nonEmpty) covered += curE - curS
    (s.end - s.start) - covered
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","op":${s.op},""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${selfNanos(s)},"tasks":${TaskListener.of(s.id).tasks}}"""
    }
    Gen.write(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  val CallProperty = "perfbench.call"
  val off = new Trace(false, null)

  final case class Span(id: Int, name: String, layer: String, start: Long, var end: Long,
      parent: Int, op: Int)

  /** Summed task metrics of every job charged to one span. */
  final class Counts {
    var jobs = 0L; var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var bytesWritten = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill; bytesWritten += o.bytesWritten
    }
  }
}

/** Charges each job and task to the span named by the job's
  * [[Trace.CallProperty]]. Registered through `spark.extraListeners`. */
class TaskListener extends SparkListener {
  import TaskListener._
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val call = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.CallProperty)))
    call.foreach { c =>
      val id = c.toInt
      e.stageIds.foreach(st => stageToSpan.put(st, id))
      of(id).synchronized(of(id).jobs += 1)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageToSpan.get(e.stageId)
    if (id != null) {
      val c = of(id)
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}

object TaskListener {
  private val stageToSpan = new ConcurrentHashMap[Int, Integer]()
  private val counts = new ConcurrentHashMap[Int, Trace.Counts]()
  def of(span: Int): Trace.Counts = counts.computeIfAbsent(span, _ => new Trace.Counts)
}

/** Sums streaming progress. Registered through the static conf
  * `spark.sql.streaming.streamingQueryListeners`, because the engine runs
  * every stream on a `newSession()` clone whose query manager never sees
  * listeners added to the caller's session. */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    StreamListener.synchronized {
      val t = StreamListener.totals
      t.batches += 1
      t.triggerMs += d("triggerExecution")
      t.planningMs += d("queryPlanning")
      t.commitMs += d("walCommit") + d("commitOffsets") + d("commitBatch")
      // The last progress of a query carries its final state size.
      t.lastState.put(p.runId.toString,
        (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }
}

object StreamListener {
  final class Totals {
    var batches = 0L; var triggerMs = 0L; var planningMs = 0L; var commitMs = 0L
    val lastState = mutable.LinkedHashMap[String, (Long, Long)]()
  }
  var totals = new Totals
  /** Returns the totals so far and starts new ones. */
  def take(): Totals = synchronized { val t = totals; totals = new Totals; t }
}
