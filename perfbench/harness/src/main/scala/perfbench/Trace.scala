package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbenchbridge.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbenchbridge.ExecutionPlans

/** One traced interval: a public entry call or a pipeline block. Times
  * are epoch milliseconds, the clock Spark's listener events use, so
  * jobs can be placed inside spans. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Span recorder for the single client thread. Spans stay in memory and
  * are written once, when the run ends. */
final class Tracer {
  private val done = ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 0

  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId; nextId += 1
    open = (id, name, System.currentTimeMillis()) :: open
    try {
      val a = body
      (a, close(id))
    } catch { case e: Throwable => close(id); throw e }
  }

  private def close(id: Int): Span = {
    val (_, name, start) = open.head
    open = open.tail
    val s = Span(id, name, open.headOption.map(_._1).getOrElse(-1), start,
      System.currentTimeMillis())
    done += s
    s
  }

  /** Record a span reconstructed after the fact (pipeline blocks). */
  def add(name: String, parent: Int, startMs: Long, endMs: Long): Span = {
    val s = Span(nextId, name, parent, startMs, endMs)
    nextId += 1
    done += s
    s
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Self time: a span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).sortBy(_._1)
    val covered = Intervals.unionLength(kids.toSeq)
    (s.endMs - s.startMs - covered) / 1e3
  }
}

object Intervals {
  /** Total length of the union of [start, end) intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark scheduler counters plus per-job module attribution, collected
  * by a listener the benchmark registers; no program code changes.
  *
  * A job's module is the package of the innermost `graft.*` frame in its
  * final stage's call site (`collect at WideAgg.scala:NN` → core). Jobs
  * whose call site has no graft frame (adaptive query stages and
  * broadcasts run on Spark's own threads) take the module of their SQL
  * execution's call site, which Spark records on the calling thread.
  *
  * The native expressions of `graft.functions` run inside executor tasks
  * and never start a job, so no call site names them. A job counts for
  * `functions` instead when the analysed plan of its SQL execution (or of
  * that execution's root) holds a `graft.functions` expression; such a
  * job also counts for its call-site module. */
final class SparkCounters extends SparkListener {
  import SparkCounters.Job
  SparkCounters.latest = Some(this)

  private val jobs = ArrayBuffer[Job]()
  private val execModule = scala.collection.mutable.Map[String, Option[String]]()
  private val execRoot = scala.collection.mutable.Map[String, String]()
  private val functionExecs = scala.collection.mutable.Set[String]()
  private val stageSubmitted = scala.collection.mutable.Map[Int, Long]()
  private val c = scala.collection.mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private var taskBusyMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    jobs += Job(e.jobId, e.time, -1L, exec, SparkCounters.moduleOf(details), functions = false)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      val root = x.rootExecutionId.filter(_ != x.executionId).flatMap(r => execModule.get(r.toString).flatten)
      execModule(x.executionId.toString) = SparkCounters.moduleOf(x.details).orElse(root)
      x.rootExecutionId.foreach(r => execRoot(x.executionId.toString) = r.toString)
    }
    case x: SparkListenerSQLExecutionEnd =>
      if (ExecutionPlans.analyzed(x).exists(SparkCounters.usesFunctions))
        synchronized { functionExecs += x.executionId.toString }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("stages") += 1
    if (e.stageInfo.numTasks == 1) c("single_task_stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    val info = e.taskInfo
    if (info != null) {
      taskBusyMs += info.duration
      stageSubmitted.get(e.stageId).foreach(s => c("task_wait_s") += math.max(0L, info.launchTime - s) / 1e3)
    }
    val m = e.taskMetrics
    if (m != null) {
      c("executor_run_s") += m.executorRunTime / 1e3
      c("executor_cpu_s") += m.executorCpuTime / 1e9
      c("gc_s") += m.jvmGCTime / 1e3
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c("shuffle_fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
      c("spill_disk_bytes") += m.diskBytesSpilled
      c("input_bytes") += m.inputMetrics.bytesRead
      c("output_bytes") += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs with every module resolved (own call site, else the SQL
    * execution's, else "other") and the `functions` flag set. */
  def resolvedJobs: Seq[Job] = synchronized {
    jobs.map(j => j.copy(
      module = Some(j.module.orElse(j.execId.flatMap(x => execModule.get(x).flatten)).getOrElse("other")),
      functions = j.execId.exists(x => functionExecs(x) || execRoot.get(x).exists(functionExecs)))).toSeq
  }

  /** The `spark.*` per-layer metrics over a traced window of `wallMs`. */
  def sparkMetrics(wallMs: Long, cores: Int): Map[String, Double] = synchronized {
    val js = jobs.toSeq
    val busy = Intervals.unionLength(js.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs)))
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.job_busy_s" -> busy / 1e3,
      "spark.driver_gap_s" -> (wallMs - busy) / 1e3,
      "spark.core_busy_frac" -> taskBusyMs.toDouble / (cores.toDouble * math.max(1L, wallMs)),
    ) ++ SparkCounters.Counters.map(k => s"spark.$k" -> c(k))
  }
}

object SparkCounters {
  final case class Job(id: Int, startMs: Long, var endMs: Long, execId: Option[String],
      module: Option[String], functions: Boolean)

  val Counters = Seq("stages", "tasks", "single_task_stages", "task_wait_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_fetch_wait_s", "spill_disk_bytes", "input_bytes", "output_bytes")

  /** Modules jobs are attributed to by call site: the graft subpackages
    * that start jobs, and "other" for jobs no graft frame explains. */
  val Modules = Seq("core", "stats", "ml", "llm", "streaming", "io", "pipeline",
    "queries", "other")

  @volatile private var latest: Option[SparkCounters] = None

  /** Start counting: a fresh listener on the running context, or, when
    * none runs (a CLI creates its own session), on the next one created. */
  def attach(): Unit = {
    latest = None
    Drain.active match {
      case Some(sc) =>
        Drain(sc, 30000L, "before traced unit")
        sc.addSparkListener(new SparkCounters)
      case None => System.setProperty("spark.extraListeners", classOf[SparkCounters].getName)
    }
  }

  /** Stop counting and return what the listener saw. A stopped context
    * has already delivered every event; a running one is drained, bounded. */
  def detach(): SparkCounters = {
    System.clearProperty("spark.extraListeners")
    val c = latest.getOrElse(throw new IllegalStateException("no Spark context ran while traced"))
    Drain.active.foreach { sc =>
      Drain(sc, 30000L, "after traced unit")
      sc.removeSparkListener(c)
    }
    c
  }

  /** Whether a plan, subqueries included, holds a native
    * `graft.functions` expression. */
  def usesFunctions(plan: LogicalPlan): Boolean = {
    var hit = false
    plan.foreachWithSubqueries { p =>
      if (!hit) hit = p.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.functions.")))
    }
    hit
  }

  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(.*""".r

  /** Module of the innermost graft frame of a long-form call site. The
    * panel's own write of a declared query's result counts as queries:
    * that frame is the query's materialisation. */
  def moduleOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.collect {
      case Frame(cls) if cls.startsWith("graft.") || cls.startsWith("perfbench.PanelWorkload") => cls
    }.nextOption().map { cls =>
      val parts = cls.split('.')
      if (parts(0) == "perfbench" || parts(1).startsWith("SparkEntry")) "queries"
      else if (parts.length >= 3 && Modules.contains(parts(1))) parts(1)
      else "other"
    }
}
