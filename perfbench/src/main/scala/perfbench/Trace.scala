package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine's layers.
  *
  * A span has a name, a start and end (epoch microseconds), the span that
  * caused it, the op it belongs to and the workload. Spans stay in memory
  * and are written once at exit. Recording is off unless `enabled`: the
  * untraced passes of a traced run pay only the flag check, so the gap
  * between traced and untraced passes is the tracing overhead. */
final class Tracer(workload: String) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val done = ArrayBuffer.empty[Map[String, Any]]

  /** Run `body` inside a span; returns its result. A disabled tracer runs
    * the body only. `attrs` are evaluated after the body. */
  def span[A](name: String, op: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val start = Clock.nowUs()
      try body
      finally {
        stack.set(stack.get().tail)
        record(id, parent, name, op, start, Clock.nowUs())
      }
    }

  /** Id of the innermost open span on this thread (0 outside any). */
  def current: Long = stack.get().headOption.getOrElse(0L)

  /** Record a span measured elsewhere (the fixture generator that runs
    * before this JVM starts). */
  def record(id: Long, parent: Long, name: String, op: String,
      startUs: Long, endUs: Long): Unit = synchronized {
    done += Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
      "workload" -> workload, "start_us" -> startUs, "end_us" -> endUs)
  }

  def nextId(): Long = ids.incrementAndGet()

  def spans: Seq[Map[String, Any]] = synchronized(done.toList)
}

/** One clock for spans and Spark listener events: epoch microseconds,
  * advanced by the monotonic nano clock. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Counts the Spark work of each op: every job is attributed to the job
  * group the benchmark set around the op (the op span's id), with its
  * interval and the summed metrics of its tasks. */
final class JobCounter extends SparkListener {
  @volatile var enabled = false

  private final class Job(val group: String, val startMs: Long) {
    @volatile var endMs = -1L
    val tasks = new AtomicLong(0L)
    val taskMs = new AtomicLong(0L)
    val shuffleRead = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val spill = new AtomicLong(0L)
    val peakMem = new AtomicLong(0L)
    val bytesRead = new AtomicLong(0L)
    val bytesWritten = new AtomicLong(0L)
    val recordsWritten = new AtomicLong(0L)
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new Job(group, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val jobId = stageJob.getOrDefault(e.stageId, -1)
    val j = if (jobId < 0) null else jobs.get(jobId)
    val m = e.taskMetrics
    if (j != null && m != null) {
      j.tasks.incrementAndGet()
      j.taskMs.addAndGet(m.executorRunTime)
      j.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      j.peakMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
      j.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      j.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      j.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  /** Every finished job as a record; call after the listener bus drained. */
  def records: Seq[Map[String, Any]] =
    jobs.asScala.toSeq.sortBy(_._1).collect { case (id, j) if j.endMs >= 0 =>
      Map("job" -> id, "group" -> j.group,
        "start_us" -> j.startMs * 1000L, "end_us" -> j.endMs * 1000L,
        "tasks" -> j.tasks.get, "task_ms" -> j.taskMs.get,
        "shuffle_read_bytes" -> j.shuffleRead.get,
        "shuffle_write_bytes" -> j.shuffleWrite.get,
        "spill_bytes" -> j.spill.get, "peak_exec_mem_bytes" -> j.peakMem.get,
        "bytes_read" -> j.bytesRead.get, "bytes_written" -> j.bytesWritten.get,
        "records_written" -> j.recordsWritten.get)
    }
}
