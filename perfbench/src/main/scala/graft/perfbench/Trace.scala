package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds at nanoTime resolution, on the same base as the
  * times Spark stamps on its listener events. */
object Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** The run record as JSON, rendered by the Jackson Scala module that ships
  * with Spark (maps, sequences, options, arrays and numbers). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}

/** One timed interval of the run: run, setup, prepay, pass, query, build,
  * action, stream. `parent` is the id of the enclosing span (-1 for the
  * root); spans of one query share its `req` id (workload/pass/query). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    req: String, start: Double, end: Double)

/** Spans recorded from the benchmark's own calls into the engine. Kept in
  * memory and written out once at the end of the run. */
final class Spans {
  private val done = ArrayBuffer.empty[Span]
  private var nextId = 0

  def all: Seq[Span] = done.toSeq

  def apply[T](kind: String, name: String, parent: Int, req: String)(
      body: Int => T): T = {
    val id = nextId
    nextId += 1
    val t0 = Clock.now()
    try body(id)
    finally done += Span(id, parent, kind, name, req, t0, Clock.now())
  }
}

/** Spark's own counters, read from a listener on the SparkContext bus.
  * It must be the context bus: many registered rows run on
  * `newSession()` clones, and a session-scoped listener misses their
  * jobs and streaming events. Every event is kept raw (times in epoch
  * ms) and attributed to spans by time when the record is analysed.
  *
  * The listener stays attached for the whole run; [[pause]] and
  * [[resume]] switch recording off and on. Whether an event is kept is
  * decided by the time Spark stamped on it, not by when the bus delivers
  * it, so the last events of a recorded interval still count when the bus
  * delivers them after [[pause]]. */
final class BusRecorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val tasks = new ConcurrentLinkedQueue[Array[Double]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int,
    (Double, Int)]()
  @volatile var queriesStarted = 0L
  /** Closed recording intervals, and the start of the open one (NaN while
    * paused). Recording is on from construction. */
  private val closed = ArrayBuffer.empty[(Double, Double)]
  private var openFrom = Clock.now()

  def pause(): Unit = synchronized {
    closed += ((openFrom, Clock.now()))
    openFrom = Double.NaN
  }

  def resume(): Unit = synchronized { openFrom = Clock.now() }

  private def recorded(t: Double): Boolean = synchronized {
    t >= openFrom || closed.exists { case (a, b) => a <= t && t <= b }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (recorded(e.time.toDouble))
      jobStart.put(e.jobId, (e.time.toDouble, e.stageInfos.size))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, nStages) =>
      jobs.add(Map("id" -> e.jobId, "start" -> t0, "end" -> e.time.toDouble,
        "stages" -> nStages))
    }

  /** Task columns, in order: finish time, run s, cpu s, deserialize s,
    * gc s, shuffle write bytes, shuffle read bytes, fetch wait s, spill
    * bytes, input bytes, input records. */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && recorded(e.taskInfo.finishTime.toDouble)) tasks.add(Array(
      e.taskInfo.finishTime.toDouble,
      m.executorRunTime / 1e3,
      m.executorCpuTime / 1e9,
      m.executorDeserializeTime / 1e3,
      m.jvmGCTime / 1e3,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      m.shuffleReadMetrics.totalBytesRead.toDouble,
      m.shuffleReadMetrics.fetchWaitTime / 1e3,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      m.inputMetrics.bytesRead.toDouble,
      m.inputMetrics.recordsRead.toDouble))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case _: StreamingQueryListener.QueryStartedEvent =>
      synchronized { queriesStarted += 1 }
    case _ =>
  }

  def record: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq.map(_.toSeq),
    "queries_started" -> queriesStarted)
}
