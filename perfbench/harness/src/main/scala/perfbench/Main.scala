package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: one JVM, one client thread, Spark as `local[nproc]`.
  * Runs one workload's set-up, then a closed loop of units (the next one
  * starts when the previous one returns) for at least `--seconds`, and
  * writes everything to a JSON file that `perfbench/run.py` turns into
  * the benchmark's result line.
  *
  * Usage: perfbench.Main --workload <eda_pipeline|query_panel>
  *   --inputs <dir> --work <dir> --seconds <n> --trace <0|1> --out <file>
  *   [--panel <file>]
  *
  * Both workloads time the first unit of the process: codegen and JIT
  * warm-up are part of what a CLI user pays on every run. `--trace 1`
  * runs four units: a warm-up, an untraced one, a traced one and another
  * untraced one. It reports the per-layer metrics of the traced unit and
  * its difference from the mean of the two untraced ones (the tracing
  * overhead). */
object Main {
  /** One operation: epoch-ms bounds (to place jobs inside spans) and its
    * duration from the monotonic clock. */
  final case class Op(name: String, startMs: Long, endMs: Long, seconds: Double,
      error: Option[String])

  /** One closed-loop unit (a pipeline run, or a panel pass). */
  final case class Step(ops: Seq[Op], seconds: Double)

  trait Workload {
    def setup(): Map[String, Double]
    def unit(i: Int, tracer: Option[Tracer]): Seq[Op]
    def layers(t: Tracer, jobs: Seq[SparkCounters.Job]): Map[String, Double]
    def outputs: Map[String, Any]
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(s"bad argument: ${bad.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val (workload, inputs, work) = (opt("workload"), opt("inputs"), opt("work"))
    val trace = opt("trace") == "1"
    Files.createDirectories(Paths.get(work))
    // confs for every session the run creates, including the CLI's own
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    System.setProperty("spark.ui.enabled", "false")
    // deep call sites, so a job's innermost graft frame is not cut off
    // below Spark ML or streaming frames (module attribution); traced runs
    // only, since every stage and listener event carries the call site
    if (trace) System.setProperty("spark.callstack.depth", "200")
    Memory.start()

    val w: Workload = workload match {
      case "eda_pipeline" => new EdaWorkload(inputs, work)
      case "query_panel" => new PanelWorkload(inputs, work, opt("panel"))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    try {
      val result = scala.collection.mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "setup" -> w.setup(),
        "loop_start_ms" -> System.currentTimeMillis())
      val loopStartNs = System.nanoTime()
      var unitsRun = 0
      def runUnit(tracer: Option[Tracer]): Step = {
        val t = System.nanoTime()
        val ops = w.unit(unitsRun, tracer)
        unitsRun += 1
        Step(ops, (System.nanoTime() - t) / 1e9)
      }

      val units = if (!trace) {
        val deadline = loopStartNs + (opt("seconds").toDouble * 1e9).toLong
        val us = ArrayBuffer(runUnit(None))
        while (System.nanoTime() < deadline) us += runUnit(None)
        us.toSeq
      } else {
        val warm = runUnit(None)
        val before = runUnit(None)
        SparkCounters.attach()
        val tracer = new Tracer
        val alloc0 = Memory.mark()
        val tStart = System.currentTimeMillis()
        val traced = runUnit(Some(tracer))
        val tEnd = System.currentTimeMillis()
        val heap = Memory.window(alloc0)
        val counters = SparkCounters.detach()
        // units keep getting faster as the JIT warms: compare the traced
        // unit with the mean of the untraced ones on either side of it
        val after = runUnit(None)
        val plain = (before.seconds + after.seconds) / 2
        val jobs = counters.resolvedJobs
        val cores = Runtime.getRuntime.availableProcessors
        result("per_layer") = counters.sparkMetrics(tEnd - tStart, cores) ++
          moduleMetrics(jobs) ++ w.layers(tracer, jobs) ++ heap ++
          Map("trace.overhead_s" -> (traced.seconds - plain),
            "trace.overhead_frac" -> (traced.seconds / plain - 1))
        val spans = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "self_s" -> tracer.selfSeconds(s)))
        Files.writeString(Paths.get(s"$work/trace_spans.json"), Json.render(spans))
        Seq(warm, before, traced, after)
      }
      result("memory") = Memory.process()
      result("units_s") = units.map(_.seconds)
      result("ops") = units.flatMap(_.ops).map(o => Map("name" -> o.name, "s" -> o.seconds,
        "error" -> o.error))
      result("outputs") = w.outputs
      Files.writeString(Paths.get(opt("out")), Json.render(result))
    } finally SparkSession.getDefaultSession.foreach(_.stop())
  }

  private def moduleMetrics(jobs: Seq[SparkCounters.Job]): Map[String, Double] =
    (SparkCounters.Modules.map(m => m -> jobs.filter(_.module.contains(m))) :+
      ("functions" -> jobs.filter(_.functions))).flatMap { case (m, js) =>
      Seq(s"$m.jobs" -> js.size.toDouble,
        s"$m.job_s" -> js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3)
    }.toMap

  /** Run `body` as one op, recording failure instead of propagating it. */
  def timed(name: String)(body: => Unit): Op = {
    val (s, ns) = (System.currentTimeMillis(), System.nanoTime())
    val err = try { body; None } catch {
      case e: Exception =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
    }
    Op(name, s, System.currentTimeMillis(), (System.nanoTime() - ns) / 1e9, err)
  }

  def jobsIn(jobs: Seq[SparkCounters.Job], s: Span): Seq[SparkCounters.Job] =
    jobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
}

/** The RunPipeline CLI end to end, as a user runs it: one op is
  * `RunPipeline.main(inputDir, outDir)` (session start, the 15 analysis
  * blocks, the summary and report, session stop) over the generated
  * reference-schema tables. */
final class EdaWorkload(inputs: String, work: String) extends Main.Workload {
  import Main._
  private val outDirs = ArrayBuffer[String]()

  /** Nothing to prepare: the CLI starts its own session. */
  def setup(): Map[String, Double] = Map.empty

  def unit(i: Int, tracer: Option[Tracer]): Seq[Op] = {
    val out = s"$work/eda/run_$i"
    outDirs += out
    val lines = ArrayBuffer[(String, Long)]()
    val tap = new java.io.PrintStream(new LineTap(l => lines += (l -> System.currentTimeMillis())),
      true, "UTF-8")
    def run() = timed("RunPipeline.main") {
      Console.withOut(tap)(graft.RunPipeline.main(Array(inputs, out)))
    }
    val op = tracer match {
      case None => run()
      case Some(t) =>
        val (op, cli) = t.span("RunPipeline.main")(run())
        EdaWorkload.addSpans(t, cli, lines.toSeq)
        op
    }
    lines.foreach { case (l, _) => println(l) }
    Seq(op)
  }

  def layers(t: Tracer, jobs: Seq[SparkCounters.Job]): Map[String, Double] = {
    def one(name: String) = t.spans.find(_.name == name)
      .getOrElse(throw new IllegalStateException(s"no traced span '$name'"))
    EdaWorkload.Blocks.flatMap { b =>
      val s = one(s"block:$b")
      // the first block's start is only known to 0.1 s (the CLI prints
      // rounded seconds): count its jobs from the CLI call's start
      val counted = if (b == EdaWorkload.Blocks.head) s.copy(startMs = one("RunPipeline.main").startMs) else s
      Seq(s"eda.${b}_s" -> s.seconds, s"eda.$b.jobs" -> jobsIn(jobs, counted).size.toDouble)
    }.toMap ++ Map(
      "eda.run_self_s" -> t.selfSeconds(one("EdaPipeline.run")),
      "cli.self_s" -> t.selfSeconds(one("RunPipeline.main")))
  }

  def outputs: Map[String, Any] = Map("run_dirs" -> outDirs.toSeq)
}

object EdaWorkload {
  /** The pipeline's 15 analysis blocks, in the order it reports them. */
  val Blocks = Seq("1_sizes", "2_target_stats", "3_opened_dist", "4_pair_lift", "5_corr_matrix",
    "6_clustering", "7_main_missing", "8_extra_bands", "9_filled_deciles", "10_missing_auc",
    "11_cat_dicts", "12_adversarial", "13_screening", "14_universality", "15_whales")
  private val Tick = """\[pipeline\] block (\S+)\s+[\d.]+ s""".r
  private val Done = """\[pipeline\] done in ([\d.]+) s.*""".r

  /** Child spans of one traced CLI call, rebuilt from the lines the CLI
    * prints and the times they were printed: `EdaPipeline.run` ends at the
    * "done in X s" line and started X s earlier; each block ends at its
    * "[pipeline] block" line and starts where the previous one ended. An
    * unknown or missing block fails the run: a silently dropped block would
    * make the per-block split look complete when it is not. */
  def addSpans(t: Tracer, cli: Span, lines: Seq[(String, Long)]): Unit = {
    val ticks = lines.collect { case (Tick(b), at) => b -> at }
    val unknown = ticks.map(_._1).filterNot(Blocks.contains)
    require(unknown.isEmpty, s"unknown pipeline block(s): ${unknown.mkString(", ")}")
    val missing = Blocks.filterNot(ticks.map(_._1).contains)
    require(missing.isEmpty, s"pipeline block(s) not reported: ${missing.mkString(", ")}")
    val (done, secs) = lines.collectFirst { case (Done(x), at) => (at, x.toDouble) }
      .getOrElse(throw new IllegalStateException("RunPipeline printed no '[pipeline] done' line"))
    val run = t.add("EdaPipeline.run", cli.id, done - (secs * 1000).toLong, done)
    ticks.foldLeft(run.startMs) { case (prev, (b, at)) =>
      t.add(s"block:$b", run.id, prev, at)
      at
    }
  }
}

/** Splits bytes into lines and hands each complete line to `onLine`. */
final class LineTap(onLine: String => Unit) extends java.io.OutputStream {
  private val buf = new java.io.ByteArrayOutputStream()
  override def write(b: Int): Unit =
    if (b == '\n') { onLine(buf.toString("UTF-8")); buf.reset() } else buf.write(b)
}

/** A fixed panel of declared queries in the panel file's (seed-shuffled)
  * order; one unit is one pass. Each query's result is written to parquet,
  * which materialises every column as the bench's noop sink does and
  * leaves the result for the oracle check. */
final class PanelWorkload(inputs: String, work: String, panelFile: String) extends Main.Workload {
  import Main._
  private val names = Files.readAllLines(Paths.get(panelFile)).asScala.map(_.trim).filter(_.nonEmpty).toSeq
  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val declared = graft.SparkEntry.queries
    val unknown = names.filterNot(declared.contains)
    require(unknown.isEmpty, s"unknown panel query name(s): ${unknown.mkString(", ")}")
    names.map(n => n -> declared(n))
  }
  private var spark: SparkSession = _
  private val outRoot = s"$work/panel/out"

  def setup(): Map[String, Double] = {
    val t = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    // the bench's session: shuffle partitions = cores, 4 replay
    // partitions, UTC, ANSI on
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(graft.streaming.EventStream.ReplayPartitionsKey, "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val session = System.nanoTime()
    // Warm the session's shared machinery (first scan, shuffle, codegen,
    // parquet write) with a query outside the panel. Otherwise that one-off
    // cost lands on whichever query the seed puts first, and the pass time
    // swings with the order rather than with the queries.
    spark.read.parquet(s"$inputs/lineitem.parquet").groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum("l_quantity"))
      .write.mode("overwrite").parquet(s"$work/panel/warm_up")
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Files.createDirectories(Paths.get(outRoot))
    Files.writeString(Paths.get(s"$work/panel/oracle_sql.json"), Json.render(oracle))
    Map("session_s" -> (session - t) / 1e9, "warm_up_s" -> (System.nanoTime() - session) / 1e9)
  }

  def unit(i: Int, tracer: Option[Tracer]): Seq[Op] = queries.map { case (n, fn) =>
    def one() = timed(n)(fn(spark, inputs).write.mode("overwrite").parquet(s"$outRoot/$n"))
    tracer.fold(one())(t => t.span(n)(one())._1)
  }

  def layers(t: Tracer, jobs: Seq[SparkCounters.Job]): Map[String, Double] =
    names.map(PanelWorkload.family).distinct.flatMap { f =>
      val fs = t.spans.filter(s => PanelWorkload.family(s.name) == f)
      Seq(s"panel.${f}_s" -> fs.map(_.seconds).sum,
        s"panel.$f.jobs" -> fs.map(s => jobsIn(jobs, s).size).sum.toDouble)
    }.toMap

  def outputs: Map[String, Any] = Map("result_dir" -> outRoot, "queries" -> names)
}

object PanelWorkload {
  /** A query's family: its leading letters (`st1_stream_window` → st). */
  def family(name: String): String = name.takeWhile(_.isLetter)
}
