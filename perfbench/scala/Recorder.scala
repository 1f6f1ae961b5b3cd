package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in recorder: operation timings (always on) plus, in a traced
  * run, spans around the harness's calls into the program's layers, Spark
  * job/stage counters from a SparkListener and Catalyst phase timings from
  * a QueryExecutionListener. Everything is kept in memory and dumped once
  * by [[toJson]]; attribution (which span a job or phase belongs to, self
  * time per layer) happens afterwards, from timestamps, in
  * perfbench/layers.py.
  *
  * All times are epoch milliseconds (Spark's listener events carry
  * `System.currentTimeMillis`); spans take sub-millisecond precision from
  * `nanoTime` anchored to one epoch reading. */
final class Recorder(val tracing: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  /** Spans are recorded only while this is set. In a traced run the
    * harness alternates it per latency operation, so the untraced half
    * measures the tracing overhead within the same run. The listeners
    * record everything once installed (their events arrive on another
    * thread, after the flag may have moved on); layers.py keeps what falls
    * inside traced operations. */
  @volatile var active = false

  final class Span(val id: Int, val name: String, val parent: Int,
      val t0: Double, var t1: Double = 0)
  final case class Op(id: Int, kind: String, name: String, t0: Double,
      t1: Double, ok: Boolean, traced: Boolean, units: Double)

  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextSpan = 1
  private val ops = ArrayBuffer[Op]()
  private var nextOp = 1
  private val cacheSamples = ArrayBuffer[(Int, Long, Int)]()
  val errors = ArrayBuffer[String]()

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(nextSpan, name, stack.headOption.fold(0)(_.id), nowMs)
      nextSpan += 1
      spans += s
      stack = s :: stack
      try body
      finally { s.t1 = nowMs; stack = stack.tail }
    }

  /** One timed operation of a workload. A failure is recorded, printed and
    * returned as None: it counts against the attempts and never as a
    * time. `units` is the work the operation completes (queries, docs,
    * ratings) for the throughput metric. */
  def op[T](kind: String, name: String, units: Double, traced: Boolean)(
      body: => T)(implicit spark: SparkSession): Option[T] = {
    val was = active
    active = tracing && traced
    val id = nextOp
    nextOp += 1
    val t0 = nowMs
    val r =
      try Some(span(s"op.$kind")(body))
      catch {
        case NonFatal(e) =>
          val msg = s"$kind $name: ${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[perfbench] operation failed: $msg")
          errors += msg
          None
      }
    val t1 = nowMs
    ops += Op(id, kind, name, t0, t1, r.isDefined, active, units)
    if (active) {
      val infos = spark.sparkContext.getRDDStorageInfo
      cacheSamples += ((id, infos.map(i => i.memSize + i.diskSize).sum,
        infos.count(_.numCachedPartitions > 0)))
    }
    active = was
    r
  }

  // --- Spark listener: jobs with their stages' task metrics ---------------

  final class Job(val id: Int, val t0: Long) {
    var t1 = 0L
    var stages, tasks = 0
    var shuffleRead, shuffleWrite, shuffleRecords, spill, input = 0L
    var cpuNs, runMs = 0L
  }
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = scala.collection.mutable.Map[Int, Int]()
  private val phases = ArrayBuffer[(String, Long, Long)]()
  private val actions = ArrayBuffer[(Long, Boolean)]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.synchronized {
        jobs(e.jobId) = new Job(e.jobId, e.time)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          val m = si.taskMetrics
          j.stages += 1
          j.tasks += si.numTasks
          if (m != null) {
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.input += m.inputMetrics.bytesRead
            j.cpuNs += m.executorCpuTime
            j.runMs += m.executorRunTime
          }
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases.synchronized {
        actions += ((System.currentTimeMillis(), true))
        qe.tracker.phases.foreach { case (k, p) =>
          phases += ((k, p.startTimeMs, p.endTimeMs))
        }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases.synchronized { actions += ((System.currentTimeMillis(), false)) }
  }

  def install(spark: SparkSession): Unit = if (tracing) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Everything recorded, as plain JSON-ready collections. Call after the
    * listener bus has drained. */
  def toJson: Map[String, Any] = Map(
    "ops" -> ops.map(o => Seq(o.id, o.kind, o.name, o.t0, o.t1, o.ok,
      o.traced, o.units)),
    "spans" -> spans.map(s => Seq(s.id, s.name, s.parent, s.t0, s.t1)),
    "jobs" -> jobs.synchronized(jobs.values.toSeq.map(j => Seq(j.id,
      j.t0, j.t1, j.stages, j.tasks, j.shuffleRead, j.shuffleWrite,
      j.shuffleRecords, j.spill, j.input, j.cpuNs / 1e9, j.runMs / 1e3))),
    "phases" -> phases.synchronized(phases.toSeq.map(p => Seq(p._1, p._2, p._3))),
    "actions" -> phases.synchronized(actions.toSeq.map(a => Seq(a._1, a._2))),
    "cache" -> cacheSamples.map(c => Seq(c._1, c._2, c._3)),
    "errors" -> errors.toSeq)
}

object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
