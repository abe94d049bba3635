package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLAdaptiveSQLMetricUpdates, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Layer of a stack frame, by the program package its class lives in.
  * Frames outside the program (Spark, Scala, the JDK, this harness) have
  * no layer and are transparent. */
object Layers {
  private val prefixes = Seq(
    "graft.queries." -> "query", "graft.SparkEntry" -> "query",
    "graft.sources." -> "sources", "graft.Tables" -> "sources",
    "graft.text." -> "text",
    "graft.ml." -> "ml",
    "graft.ops.Relational" -> "ops.relational",
    "graft.ops.Graph" -> "ops.graph",
    "graft.ops." -> "ops.other",
    "graft.llm.Dedup" -> "llm.dedup",
    "graft.llm.Similarity" -> "llm.similarity",
    "graft.llm." -> "llm.other",
    "graft.expr." -> "expr", "graft.exprapi" -> "expr",
    "graft.pairs." -> "pairs",
    "graft.streaming." -> "streaming")

  def of(className: String): Option[String] =
    prefixes.collectFirst { case (p, l) if className.startsWith(p) => l }

  /** The layer of the innermost program frame on a stack, if any. */
  def innermost(stack: Array[StackTraceElement]): Option[String] =
    stack.iterator.flatMap(f => of(f.getClassName)).nextOption()

  /** The layer calls on a stack, outermost first: one (layer, method)
    * entry per run of consecutive frames in the same layer, named by the
    * frame that entered the layer. The outermost `query` run is the job
    * itself and is dropped. */
  def path(stack: Array[StackTraceElement]): Vector[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    var last = ""
    var i = stack.length - 1
    while (i >= 0) {
      val f = stack(i)
      Layers.of(f.getClassName) match {
        case Some(l) if l != last =>
          val cls = f.getClassName.split('.').last.takeWhile(_ != '$')
          val m = f.getMethodName
          val method = if (m.contains("$anonfun$")) m.split('$').filter(_.nonEmpty)
            .find(p => p != "anonfun" && !p.forall(_.isDigit)).getOrElse(m) else m
          out += l -> s"$cls.$method"
          last = l
        case _ =>
      }
      i -= 1
    }
    val p = out.result()
    if (p.headOption.exists(_._1 == "query")) p.tail else p
  }
}

/** One span: a job (layer `query`) or a layer call inside it. Times are
  * epoch milliseconds, the clock Spark stamps its listener events with. */
final case class Span(id: Int, parent: Int, job: String, layer: String,
    name: String, start: Long, var end: Long) {
  def dur: Long = end - start
}

/** Samples the driver thread's stack and turns consecutive samples into
  * spans at layer boundaries. The driver thread is the one that runs every
  * job, so its stack says which layer call is blocking the pass.
  *
  * It also samples the executor task threads. Lazy layer functions (`text`,
  * `expr`, most of `ops.relational`) return plans whose work runs later, in
  * the tasks of the action that consumes them; a task thread's innermost
  * program frame names the layer whose code it is running, so `taskSecs`
  * charges each sampling interval to the layers the task threads were in.
  */
final class Sampler(target: Thread, periodMs: Long) {
  private val samples = mutable.ArrayBuffer.empty[(Long, Vector[(String, String)])]
  /** seconds of task-thread time per layer, over the sampler's lifetime */
  val taskSecs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  @volatile private var running = true
  private val thread = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      val t = System.currentTimeMillis()
      val p = Layers.path(target.getStackTrace)
      // parked pool threads run no task; skipping them saves a stack walk each
      val inTasks = taskThreads().filter(_.getState == Thread.State.RUNNABLE)
        .flatMap(th => Layers.innermost(th.getStackTrace))
      val now = System.nanoTime()
      val dt = (now - last) / 1e9
      last = now
      samples.synchronized {
        samples += t -> p
        inTasks.foreach(l => taskSecs(l) += dt)
      }
      Thread.sleep(periodMs)
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  private def taskThreads(): Seq[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val all = new Array[Thread](g.activeCount() + 64)
    all.take(g.enumerate(all, true)).filter(_.getName.startsWith("Executor task launch worker")).toSeq
  }

  def stop(): Unit = { running = false; thread.join() }

  /** Spans of one job that ran from `start` to `end` (epoch ms). */
  def spans(job: String, start: Long, end: Long, nextId: () => Int): Seq[Span] = {
    val root = Span(nextId(), -1, job, "query", job, start, end)
    val out = mutable.ArrayBuffer(root)
    val open = mutable.ArrayBuffer.empty[(String, String, Span)]
    val inJob = samples.synchronized {
      samples.filter { case (t, _) => t >= start && t <= end }.toVector
    }
    inJob.foreach { case (t, p) =>
      var c = 0
      while (c < open.size && c < p.size && (open(c)._1, open(c)._2) == p(c)) c += 1
      open.drop(c).foreach(_._3.end = t)
      open.remove(c, open.size - c)
      p.drop(c).foreach { case (l, m) =>
        val parent = open.lastOption.map(_._3.id).getOrElse(root.id)
        val s = Span(nextId(), parent, job, l, m, t, t)
        out += s
        open += ((l, m, s))
      }
    }
    open.foreach(_._3.end = end)
    out.toSeq
  }

  def clear(): Unit = samples.synchronized(samples.clear())
}

/** Task, job, SQL-execution and streaming events, kept in memory. */
object Recorder {
  final case class Job(id: Int, time: Long, stages: Seq[Int], sqlExec: Option[Long], lastStageName: String)
  final case class Task(stage: Int, runMs: Long, gcMs: Long, spill: Long,
      shuffleWrite: Long, inputBytes: Long, retry: Boolean)
  final case class Exec(id: Long, start: Long, var end: Long = -1L)
}

final class Recorder extends SparkListener {
  import Recorder._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  /** accumulator id → SQL metric name, from every plan the driver posts */
  val metricNames = mutable.HashMap.empty[Long, String]
  /** (execution id, accumulator id, value) from driver-side SQL metric updates */
  val driverUpdates = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** (accumulator id, value) from task-side SQL metric updates */
  val taskUpdates = mutable.ArrayBuffer.empty[(Long, Long)]
  val batches = mutable.ArrayBuffer.empty[(Long, Long)] // (epoch ms, duration ms)
  @volatile var events = 0L

  private def names(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => metricNames(m.accumulatorId) = m.name)
    p.children.foreach(names)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val last = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs += Job(e.jobId, e.time, e.stageIds, exec, last)
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += Task(e.stageId, m.executorRunTime, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative)
    }
    e.taskInfo.accumulables.foreach { a =>
      a.update.foreach {
        case v: Long => taskUpdates += a.id -> v
        case _ =>
      }
    }
    events += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId, s.time)
        names(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => names(u.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveSQLMetricUpdates =>
        u.sqlPlanMetrics.foreach(m => metricNames(m.accumulatorId) = m.name)
      case d: SparkListenerDriverAccumUpdates =>
        driverUpdates ++= d.accumUpdates.map { case (id, v) => (d.executionId, id, v) }
      case x: SparkListenerSQLExecutionEnd => execs.get(x.executionId).foreach(_.end = x.time)
      case _ =>
    }
    events += 1
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches += java.time.Instant.parse(p.timestamp).toEpochMilli -> d
      }
  }

  /** Block until no event has arrived for 200 ms (at most 5 s): the
    * listener bus is asynchronous and has no public drain. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (events != last && System.nanoTime() < deadline) {
      last = events
      Thread.sleep(200)
    }
  }

  def sumDriver(metric: String): Long = synchronized {
    driverUpdates.collect { case (_, id, v) if metricNames.get(id).contains(metric) => v }.sum
  }

  /** executions that posted a driver-side update of `metric` */
  def execsWith(metric: String): Set[Long] = synchronized {
    driverUpdates.collect { case (e, id, _) if metricNames.get(id).contains(metric) => e }.toSet
  }

  def sumTask(metric: String): Long = synchronized {
    taskUpdates.collect { case (id, v) if metricNames.get(id).contains(metric) => v }.sum
  }

  def clear(): Unit = synchronized {
    jobs.clear(); tasks.clear(); execs.clear(); driverUpdates.clear()
    taskUpdates.clear(); batches.clear()
  }
}
