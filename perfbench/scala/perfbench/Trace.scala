package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark's own counters summed over a set of jobs. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var inputRecords = 0L
  var inputBytes = 0L
  var stageWallMs = 0L

  def add(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
    inputRecords += o.inputRecords; inputBytes += o.inputBytes; stageWallMs += o.stageWallMs
  }

  def toMap: Map[String, Any] = synchronized {
    Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_s" -> runMs / 1e3,
      "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
      "peak_exec_mem_bytes" -> peakExecMemBytes, "input_records" -> inputRecords,
      "input_bytes" -> inputBytes, "stage_wall_s" -> stageWallMs / 1e3)
  }

  def copy(): Counters = { val c = new Counters; c.add(this); c }

  /** Counters accrued since `before` was copied from this object. */
  def since(before: Counters): Counters = synchronized {
    val c = new Counters
    c.jobs = jobs - before.jobs; c.stages = stages - before.stages; c.tasks = tasks - before.tasks
    c.runMs = runMs - before.runMs; c.cpuNs = cpuNs - before.cpuNs; c.gcMs = gcMs - before.gcMs
    c.shuffleReadBytes = shuffleReadBytes - before.shuffleReadBytes
    c.shuffleWriteBytes = shuffleWriteBytes - before.shuffleWriteBytes
    c.spillBytes = spillBytes - before.spillBytes; c.peakExecMemBytes = peakExecMemBytes
    c.inputRecords = inputRecords - before.inputRecords; c.inputBytes = inputBytes - before.inputBytes
    c.stageWallMs = stageWallMs - before.stageWallMs
    c
  }

  def shuffleBytes: Long = synchronized(shuffleReadBytes + shuffleWriteBytes)
}

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long, thread: String,
                      startNs: Long, var endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder plus a Spark listener.
  *
  * The listener always keeps whole-run totals, so every run records
  * host-independent counters (jobs, stages, shuffle bytes) next to its
  * wall times. With `enabled`, each [[span]] also tags the jobs its
  * thread submits (through a Spark local property) and the listener
  * attributes their stages and tasks to that innermost open span.
  * Spans stay in memory until [[toJson]].
  */
final class Tracer(initiallyEnabled: Boolean, sc: SparkContext) extends SparkListener {
  /** Spans are recorded only while this is on. */
  @volatile var enabled: Boolean = initiallyEnabled
  val total = new Counters
  private val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.map(_.id).getOrElse(0L)
      val s = Span(ids.incrementAndGet(), name, parent, Thread.currentThread().getName,
        System.nanoTime(), 0L, new Counters)
      byId.put(s.id, s)
      spans.synchronized(spans += s)
      stack.set(s :: stack.get)
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  private def countersFor(stageId: Int): Option[Counters] =
    Option(stageSpan.get(stageId)).flatMap(id => Option(byId.get(id))).map(_.counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.synchronized(total.jobs += 1)
    val spanId = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
    spanId.flatMap(id => Option(byId.get(id))).foreach { s =>
      s.counters.synchronized(s.counters.jobs += 1)
      e.stageIds.foreach(st => stageSpan.put(st, s.id))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val wall = (for (a <- info.submissionTime; b <- info.completionTime) yield b - a).getOrElse(0L)
    (Seq(total) ++ countersFor(info.stageId)).foreach { c =>
      c.synchronized { c.stages += 1; c.stageWallMs += wall }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    (Seq(total) ++ countersFor(e.stageId)).foreach { c =>
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
        c.inputRecords += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Sum of counters over every span with `name`, children included
    * (a job is attributed only to its innermost span, so summing a
    * span and its children adds each job once). */
  def countersUnder(name: String): Counters = {
    val roots = named(name).map(_.id).toSet
    val kids = all.groupBy(_.parent)
    def subtree(id: Long): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(k => k +: subtree(k.id))
    val out = new Counters
    all.filter(s => roots(s.id)).flatMap(s => s +: subtree(s.id)).foreach(s => out.add(s.counters))
    out
  }

  def toJson(workload: String, runId: String): String =
    all.map { s =>
      Json.obj(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "workload" -> workload,
        "run_id" -> runId, "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> selfSeconds(s), "counters" -> s.counters.toMap))
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON writer for the result and trace artifacts. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
