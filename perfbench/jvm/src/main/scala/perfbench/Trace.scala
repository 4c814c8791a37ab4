package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with nanoTime resolution, so driver
  * spans, listener stage times and the launcher's own clock share one
  * time base. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed operation of a workload: a query, a corpus stage call or a
  * micro-batch. `phase` separates the untraced and traced halves of a
  * run. */
final case class Op(id: Int, kind: String, name: String, phase: String,
    start: Double, end: Double, ok: Boolean, error: String)

/** Spans and counts kept in memory and written out at the end of the
  * run. With tracing off `span` only runs its body. Span nesting is per
  * thread; the buffers are shared. */
final class Tracer {
  @volatile var enabled = false
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Int]](() => new java.util.ArrayDeque[Int]())
  private val currentOp = ThreadLocal.withInitial[Int](() => -1)
  val spans = ArrayBuffer.empty[Map[String, Any]]
  val counts = ArrayBuffer.empty[Map[String, Any]]

  def withOp[T](op: Int)(body: => T): T = {
    val prev = currentOp.get
    currentOp.set(op)
    try body finally currentOp.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val st = stack.get
      val id = nextId.getAndIncrement()
      val parent = if (st.isEmpty) None else Some(st.peek())
      val start = Clock.ms()
      st.push(id)
      try body
      finally {
        st.pop()
        val s = Map("id" -> id, "parent" -> parent, "name" -> name,
          "op" -> currentOp.get, "start" -> start, "end" -> Clock.ms())
        spans.synchronized(spans += s)
      }
    }

  /** A count at the boundary of the current operation. */
  def count(key: String, value: Double): Unit =
    if (enabled) counts.synchronized {
      counts += Map("op" -> currentOp.get, "key" -> key, "value" -> value)
    }
}

/** Benchmark-owned listener: per-stage task totals and job counts,
  * attributed to the operation whose id the submitting thread carried
  * in the `perfbench.op` local property. */
final class StageLog extends SparkListener {
  private final class Acc {
    var runMs, cpuNs, gcMs, shWrite, shRead, spill, inBytes, inRecords = 0L
  }
  private val acc = scala.collection.mutable.HashMap.empty[(Int, Int), Acc]
  private val opOf = scala.collection.mutable.HashMap.empty[(Int, Int), String]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val jobs = ArrayBuffer.empty[Map[String, Any]]

  private def opProp(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.op"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Map("op" -> opProp(e.properties), "time" -> e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    opOf(k) = opProp(e.properties)
    acc(k) = new Acc
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc.getOrElseUpdate((e.stageId, e.stageAttemptId), new Acc)
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val k = (i.stageId, i.attemptNumber())
    val a = acc.remove(k).getOrElse(new Acc)
    stages += Map(
      "op" -> opOf.remove(k).getOrElse(""), "stage" -> i.stageId,
      "submit" -> i.submissionTime.map(_.toDouble).getOrElse(0.0),
      "complete" -> i.completionTime.map(_.toDouble).getOrElse(0.0),
      "tasks" -> i.numTasks, "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6,
      "gc_ms" -> a.gcMs, "shuffle_write" -> a.shWrite,
      "shuffle_read" -> a.shRead, "spill" -> a.spill,
      "input_bytes" -> a.inBytes, "input_rows" -> a.inRecords)
  }

  /** Deliver every event posted so far before reading the buffers. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.graftbridge.ListenerBridge.waitUntilListenersProcessed(sc)
}

/** Runs operations, attributes Spark work to them and keeps the record. */
final class Recorder(sc: SparkContext, val tracer: Tracer) {
  val ops = ArrayBuffer.empty[Op]
  var phase = "setup"
  private var nextOp = 0

  /** Time `body` as one operation; `check` turns its result into None
    * (correct) or a failure message. Exceptions count as failures. */
  def op[T](kind: String, name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val id = nextOp
    nextOp += 1
    sc.setLocalProperty("perfbench.op", id.toString)
    val start = Clock.ms()
    val res = try Right(tracer.withOp(id)(tracer.span(kind)(body)))
      catch { case e: Throwable => Left(e) }
    val end = Clock.ms()
    sc.setLocalProperty("perfbench.op", null)
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check failed: $e".take(300)) }
    }
    ops += Op(id, kind, name, phase, start, end, err.isEmpty, err.getOrElse(""))
    err.foreach(m => System.err.println(s"[perfbench] $kind $name failed: $m"))
    res.toOption
  }


  def lastOpId: Int = nextOp - 1
}
