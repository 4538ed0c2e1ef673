package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.pipeline._
import graft.streaming.StreamRunner

/** The benchmark's JVM program: one workload, closed loop (one
  * message in flight), Spark local[cores] with the session built as
  * `Launcher.main` builds it.
  *
  * Usage: perfbench.PerfBench <workload> <work dir> <seconds> <trace 0|1>
  *          <cores> <result json>
  *
  * `<work dir>/in` holds the generated inputs.  Set-up starts the
  * session, loads the product list through `Launcher.load` and runs the
  * warm-up messages; then messages run for `<seconds>`.  Everything the
  * checker and the report need lands in `<result json>`. */
object PerfBench {
  private val mapper = new ObjectMapper()
  private val mainUptimeS =
    ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  final case class Args(workload: String, work: Path, seconds: Double,
      trace: Boolean, cores: Int, result: Path)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), Paths.get(argv(1)).toAbsolutePath, argv(2).toDouble,
      argv(3) == "1", argv(4).toInt, Paths.get(argv(5)))
    val out = mapper.createObjectNode()
    out.put("workload", a.workload)
    out.put("jvm_uptime_at_main_s", mainUptimeS)
    val w: Workload = a.workload match {
      case "scene_resample" => new OnceWorkload
      case "msg_stream" => new StreamWorkload(a.trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val in = a.work.resolve("in")
    val t0 = System.nanoTime()
    val spark = session(a, in)
    val t1 = System.nanoTime()
    // before the workload starts: a streaming query runs on a clone of
    // the session, which copies the listeners registered so far
    val counters = new Counters
    if (a.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters.queryListener)
      spark.streams.addListener(counters.streamListener)
    }
    w.setup(spark, in)
    out.put("session_s", (t1 - t0) / 1e9)
    out.put("warmup_s", (System.nanoTime() - t1) / 1e9)
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    counters.clear()
    Trace.clear()
    Trace.enabled = a.trace
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val start = System.nanoTime()
    val ops = out.putArray("ops")
    w.timed(spark, (a.seconds * 1e9).toLong, ops)
    out.put("timed_s", (System.nanoTime() - start) / 1e9)
    Trace.enabled = false
    w.settle()
    out.put("jvm_gc_s", (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3)
    out.put("jvm_heap_peak_mb",
      heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    if (a.trace) {
      val tr = out.putObject("trace")
      Trace.spansJson(tr.putArray("spans"))
      counters.toJson(tr)
    }
    // live heap: what the old generation holds after a full collection;
    // the second one reclaims what Spark's cleaner released after the first
    System.gc()
    Thread.sleep(500)
    System.gc()
    out.put("heap_retained_mb",
      heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0)
    w.close()
    w.afterRun(out)
    // after the pipeline's counters and heap figures are taken
    if (a.trace && Files.exists(in.resolve("queries.txt")))
      RasterQueries.run(spark, in, counters, out.putObject("queries"))
    spark.stop()
    Files.write(a.result, mapper.writeValueAsBytes(out))
  }

  /** `Launcher.main`'s session, with every scratch location inside the
    * run's own directory. */
  def session(a: Args, in: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", in.resolve("warehouse").toString)
      .config("spark.local.dir", in.resolve("spark-local").toString)
    val s = GraftSession.prime(GraftSession.configure(b, a.cores.toString).getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def readFile(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** Message files of an input dir, in order. */
  def messages(in: Path): Vector[Path] = {
    val s = Files.list(in.resolve("messages"))
    try s.iterator.asScala.toVector.sortBy(_.getFileName.toString)
    finally s.close()
  }

  val WarmupMessages = 2

  trait Workload {
    def setup(spark: SparkSession, in: Path): Unit
    def timed(spark: SparkSession, budgetNs: Long,
        ops: com.fasterxml.jackson.databind.node.ArrayNode): Unit
    /** Let work the timed region started finish before counters are read. */
    def settle(): Unit = ()
    def close(): Unit = ()
    def afterRun(out: ObjectNode): Unit = ()
  }

  /** Shared by the two pipeline workloads: the loaded config, the
    * message list, and turning a message's job reports into one op. */
  abstract class PipelineWorkload extends Workload {
    var config: LoadedConfig = _
    var msgs: Vector[Path] = Vector.empty
    var in: Path = _
    /** Throwables the crash hook saw for the current message. */
    val crashes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val crashHook: Runner.CrashHandler = (plugin, e) =>
      crashes.add(s"$plugin crashed at ${origin(e)}: ${e.getClass.getName}")

    def load(dir: Path): Unit = {
      in = dir
      config = Launcher.load(readFile(dir.resolve("pl.yaml")))
      msgs = messages(dir)
    }

    /** Innermost program frame of the root cause: where it broke. */
    def origin(e: Throwable): String = {
      var c = e
      while (c.getCause != null && c.getCause != c) c = c.getCause
      c.getStackTrace.find(_.getClassName.startsWith("graft."))
        .map(f => s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})")
        .getOrElse(c.getClass.getName)
    }

    lazy val publisherWorker: Option[WorkerSpec] =
      config.workers.find(_.fun == "file_publisher")

    /** One message's outcome: ok, rejected (an abort the product list
      * asks for: check_metadata) or failed (anything else). */
    def record(ops: com.fasterxml.jackson.databind.node.ArrayNode, id: String,
        latencyS: Double, reports: Seq[Runner.JobReport]): Unit = {
      val op = ops.addObject()
      op.put("id", id)
      op.put("latency_s", latencyS)
      val aborts = reports.flatMap { r =>
        r.results.find(_.abortedAfter.isDefined).map(p => p.plugin -> p.abortedAfter.get)
      }
      val status =
        if (aborts.isEmpty) "ok"
        else if (aborts.forall(_._1 == "check_metadata")) "rejected"
        else "failed"
      op.put("status", status)
      val crashed = crashes.asScala.toSeq
      crashes.clear()
      if (status != "ok") {
        val (plugin, reason) = aborts.find(_._1 != "check_metadata").getOrElse(aborts.head)
        op.put("reason", crashed.headOption.getOrElse(s"$plugin: $reason"))
      }
      val files = op.putArray("files")
      reports.flatMap(_.finalCtx.manifest).foreach { f =>
        val n = files.addObject()
        n.put("area", f.area.getOrElse("native")); n.put("product", f.product)
        n.put("format", f.format); n.put("path", f.path); n.put("rows", f.rows)
      }
      val pub = op.putArray("published")
      publisherWorker.foreach { wk =>
        val fp = PluginRegistry.build(config, wk, Seq.empty)
          .asInstanceOf[Plugins.FilePublisher]
        reports.foreach { r =>
          fp.messageSeq(r.finalCtx).foreach { m =>
            val n = pub.addObject()
            n.put("uri", m.uri); n.put("topic", m.topic); n.put("msg_type", m.msg_type)
          }
        }
      }
    }
  }

  /** scene_resample: `Launcher.runOnce`, one message at a time. */
  final class OnceWorkload extends PipelineWorkload {
    private var next = 0

    def runOne(spark: SparkSession, json: String): Seq[Runner.JobReport] =
      if (!Trace.enabled) Launcher.runOnce(spark, config, json, crashHandlers = Seq(crashHook))
      else Trace.span("Launcher.runOnce") {
        // runOnce's body, with each layer call wrapped
        val (ctx, paths) = Trace.span("Messages.toContext")(
          Messages.toContext(spark, config.productList, json))
        val chain = Trace.span("PluginRegistry.chain")(
          PluginRegistry.chain(config, paths)).map(new Trace.SpanPlugin(_))
        Trace.span("Runner.processJobs")(
          Runner.processJobs(ctx, chain, Duration.Inf, Seq(crashHook)))
      }

    def setup(spark: SparkSession, dir: Path): Unit = {
      load(dir)
      for (i <- 0 until WarmupMessages) runOne(spark, readFile(msgs(i)))
      crashes.clear()
      next = WarmupMessages
    }

    def timed(spark: SparkSession, budgetNs: Long,
        ops: com.fasterxml.jackson.databind.node.ArrayNode): Unit = {
      val start = System.nanoTime()
      while (System.nanoTime() - start < budgetNs && next < msgs.size) {
        val json = readFile(msgs(next))
        Trace.op = next
        val t0 = System.nanoTime()
        val reports = runOne(spark, json)
        val t1 = System.nanoTime()
        record(ops, msgs(next).getFileName.toString, (t1 - t0) / 1e9, reports)
        next += 1
      }
    }
  }

  /** msg_stream: `Launcher.run` over a watched directory; the next
    * message file is written only after the previous report arrived. */
  final class StreamWorkload(trace: Boolean) extends PipelineWorkload {
    private var query: StreamingQuery = _
    private var next = 0
    private val reports = new LinkedBlockingQueue[(Seq[Runner.JobReport], Long)]()
    private val writtenMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    /** Traced run: the micro-batch each timed message ran in. */
    private val opBatch = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

    private def onReport(json: String, r: Seq[Runner.JobReport]): Unit =
      reports.put((r, System.nanoTime()))

    def setup(spark: SparkSession, dir: Path): Unit = {
      load(dir)
      val watch = dir.resolve("watch")
      Files.createDirectories(watch)
      val messages = StreamRunner.messageStream(spark, watch.toString)
      val ckpt = dir.resolve("checkpoint").toString
      query =
        if (!trace)
          Launcher.run(spark, config, messages, ckpt,
            crashHandlers = Seq(crashHook), availableNow = false)(onReport)
        else
          // runMessages' per-batch body, with each layer call wrapped
          StreamRunner.runPerMessage(messages, ckpt, availableNow = false) { (batch, id) =>
            opBatch.put(Trace.op, id)
            val spark = batch.sparkSession
            val rows = batch.limit(StreamRunner.MaxMessagesPerBatch + 1)
              .select(col(batch.columns.head).cast("string"))
              .collect()
            require(rows.length <= StreamRunner.MaxMessagesPerBatch,
              s"runMessages micro-batch exceeds ${StreamRunner.MaxMessagesPerBatch} rows")
            rows.iterator.map(_.getString(0)).filter(_ != null).foreach { json =>
              val (ctx, paths) = Trace.span("Messages.toContext")(
                Messages.toContext(spark, config.productList, json))
              val chain = Trace.span("PluginRegistry.chain")(
                PluginRegistry.chain(config, paths)).map(new Trace.SpanPlugin(_))
              val r = Trace.span("Runner.processJobs")(
                Runner.processJobs(ctx, chain, Duration.Inf, Seq(crashHook)))
              onReport(json, r)
            }
          }
      for (_ <- 0 until WarmupMessages) feedAndWait()
      crashes.clear()
    }

    /** Write the next message into the watched dir (atomic rename, so
      * the file source never lists a partial file); wait for its report. */
    private def feedAndWait(): (Seq[Runner.JobReport], Long, Long) = {
      val src = msgs(next)
      val tmp = in.resolve(s".${src.getFileName}.tmp")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      val t0 = System.nanoTime()
      writtenMs += System.currentTimeMillis()
      Files.move(tmp, in.resolve("watch").resolve(src.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
      next += 1
      val got = reports.poll(120, TimeUnit.SECONDS)
      if (got == null) {
        val err = Option(query.exception).flatten.map(_.toString).getOrElse("no report")
        throw new IllegalStateException(s"message ${src.getFileName} timed out: $err")
      }
      (got._1, t0, got._2)
    }

    def timed(spark: SparkSession, budgetNs: Long,
        ops: com.fasterxml.jackson.databind.node.ArrayNode): Unit = {
      val start = System.nanoTime()
      writtenMs.clear()
      while (System.nanoTime() - start < budgetNs && next < msgs.size) {
        val id = msgs(next).getFileName.toString
        Trace.op = next
        val (r, t0, t1) = feedAndWait()
        record(ops, id, (t1 - t0) / 1e9, r)
      }
    }

    /** The last message's report arrives from inside its micro-batch;
      * the batch's progress event follows its commit. */
    override def settle(): Unit = if (!opBatch.isEmpty) {
      val last = opBatch.values.asScala.max
      val deadline = System.nanoTime() + 10000000000L
      while (Option(query.lastProgress).forall(_.batchId < last) &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
    }

    override def afterRun(out: ObjectNode): Unit = {
      val w = out.putArray("written_ms")
      writtenMs.foreach(w.add(_))
      val b = out.putArray("op_batch")
      opBatch.asScala.toSeq.filter(_._1 >= 0).sortBy(_._1).foreach(x => b.add(x._2))
    }

    override def close(): Unit = if (query != null) {
      query.stop()
      query.awaitTermination(60000)
      query = null
    }
  }
}
