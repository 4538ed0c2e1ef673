package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{Plugin, PipelineContext}

/** In-memory spans for the traced run.  A span is (name, start, end,
  * parent, op): `op` is the message the span worked for.  Spans
  * nest per thread; nothing is written until [[Trace.spansJson]] at the
  * end of the run.  Disabled, [[span]] is a plain call. */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, endNs: Long)

  /** Local property carrying the span owner (a plugin) onto the Spark
    * jobs a span submits. */
  val OwnerProp = "perfbench.owner"

  @volatile var enabled = false
  @volatile var op: Int = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, parent, op, t0, t1) }
      }
    }

  /** Span plus job attribution: jobs submitted inside carry `owner`. */
  def owned[A](sc: SparkContext, name: String, owner: String)(body: => A): A =
    if (!enabled) body
    else span(name) {
      val prev = sc.getLocalProperty(OwnerProp)
      sc.setLocalProperty(OwnerProp, owner)
      try body finally sc.setLocalProperty(OwnerProp, prev)
    }

  def clear(): Unit = synchronized { spans.clear() }

  def spansJson(out: ArrayNode): Unit = synchronized {
    spans.sortBy(_.id).foreach { s =>
      val n = out.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("parent", s.parent)
      n.put("op", s.op); n.put("start_ns", s.startNs); n.put("end_ns", s.endNs)
    }
  }

  /** Delegating span around one registry-built plugin. */
  final class SpanPlugin(inner: Plugin) extends Plugin {
    val name: String = inner.name
    def apply(ctx: PipelineContext): PipelineContext =
      owned(ctx.spark.sparkContext, s"Plugins.$name", name)(inner(ctx))
    override def stop(): Unit = inner.stop()
  }
}

/** Job, stage and action counters, attributed to the span owner that
  * submitted them.  Registered only in the traced run. */
final class Counters extends SparkListener {
  final case class Job(owner: String, execId: Long, stages: Seq[Int])
  final case class Stage(tasks: Int, runMs: Long, gcMs: Long, rowsIn: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, outBytes: Long)
  final case class Action(planMs: Long, execNs: Long)
  final case class Batch(batchId: Long, startMs: Long,
      durations: Map[String, Long])

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val actions = mutable.ArrayBuffer.empty[Action]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = Job(prop(Trace.OwnerProp).getOrElse("other"),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = e.stageInfo.taskMetrics
      if (m != null)
        stages(e.stageInfo.stageId) = Stage(e.stageInfo.numTasks,
          m.executorRunTime, m.jvmGCTime, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten)
    }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Long =
      qe.tracker.phases.values.map(_.durationMs).sum
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Counters.this.synchronized { actions += Action(plan(qe), ns) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      Counters.this.synchronized { actions += Action(plan(qe), 0L) }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) Counters.this.synchronized {
        batches += Batch(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); actions.clear(); batches.clear()
  }

  def toJson(out: ObjectNode): Unit = synchronized {
    val js = out.putArray("jobs")
    jobs.foreach { case (id, j) =>
      val n = js.addObject()
      n.put("id", id); n.put("owner", j.owner); n.put("exec_id", j.execId)
      val st = n.putArray("stages")
      j.stages.filter(stages.contains).foreach { sid =>
        val s = stages(sid)
        val o = st.addObject()
        o.put("id", sid); o.put("tasks", s.tasks); o.put("run_ms", s.runMs); o.put("gc_ms", s.gcMs)
        o.put("rows_in", s.rowsIn); o.put("shuffle_write", s.shuffleWrite)
        o.put("shuffle_read", s.shuffleRead); o.put("spill", s.spill)
        o.put("out_bytes", s.outBytes)
      }
    }
    val as = out.putArray("actions")
    actions.foreach { a =>
      val n = as.addObject()
      n.put("plan_ms", a.planMs); n.put("exec_ns", a.execNs)
    }
    val bs = out.putArray("batches")
    batches.sortBy(_.batchId).foreach { b =>
      val n = bs.addObject()
      n.put("batch_id", b.batchId); n.put("start_ms", b.startMs)
      val d = n.putObject("duration_ms")
      b.durations.toSeq.sorted.foreach { case (k, v) => d.put(k, v) }
    }
  }
}
