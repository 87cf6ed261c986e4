package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one process, one closed-loop client.
  *
  * {{{
  * Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *         --data <generated parquet dir> --work <scratch dir> --out <json>
  * }}}
  *
  * The program runs on `local[4]` with `workers = 4`. The harness drives it
  * only through its public seams and times every call from outside. It
  * writes one result JSON (metrics, counts, output checks) to `--out`; on a
  * traced run it also writes the spans next to it.
  */
object Harness {
  val Cores = 4

  /** End-to-end metrics, reported by untraced runs. */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_s", "rows_per_s",
    "step_geomean_ms", "peak_rss_mb")

  /** Per-layer metrics, reported by traced runs. */
  val PerLayer: Seq[String] = Seq("cold.s",
    "introspect.s", "schema.s", "schema.stmts",
    "load.s", "load.rows", "load.rows_per_s", "load.chunks", "load.task_s",
    "load.parallelism", "load.read_s", "load.write_s",
    "checkpoint.load_s", "checkpoint.flush_ms", "checkpoint.bytes",
    "checkpoint.chunks_done", "resume.s", "resume.rows_reloaded",
    "resume.rework_ratio",
    "validate.s", "validate.busy_s", "validate.digest_s",
    "post.s", "post.pk_s", "post.index_s", "post.orphan_s", "post.fk_s",
    "post.stmts", "target.bridged_stmts",
    "catalog.build_s", "catalog.plan_s", "catalog.exec_s",
    "catalog.cold_build_s", "catalog.cold_plan_s", "catalog.cold_exec_s",
    "catalog.floor_s",
    "spark.jobs", "spark.stages", "spark.task_s", "spark.cpu_s",
    "spark.shuffle_bytes", "bare_job_ms", "trace.overhead_s") ++
    CatalogWorkload.Queries.map(q => s"catalog.q.${q}_s")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: Path, out: Path)

  /** Outcome of one workload run, before peak RSS is added. */
  final case class Result(
      metrics: Seq[(String, Double)],
      attempted: Long,
      failed: Long,
      failures: Seq[String],
      checks: Seq[(String, Boolean)],
      extra: Seq[(String, String)] = Nil)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), Paths.get(need("work")),
      Paths.get(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    Files.createDirectories(a.work)
    val spark = graft.Sessions.build("perfbench", Some(Cores.toString))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(a.trace)
    val tasks = new TaskLog
    spark.sparkContext.addSparkListener(tasks)
    val clock = new graft.StageClock
    spark.sparkContext.addSparkListener(clock)
    val env = Env(spark, a, tracer, tasks, clock, sessionS)
    val res =
      try a.workload match {
        case "migrate_resume" => MigrateWorkload.resume(env)
        case "catalog" => CatalogWorkload.run(env)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    val got = (res.metrics :+ ("peak_rss_mb" -> peakRssMb())).toMap
    val unknown = got.keySet -- EndToEnd -- PerLayer
    require(unknown.isEmpty, s"unlisted metrics: $unknown")
    // every listed metric on every workload: a layer the workload does not
    // exercise reports 0 (the notes say which)
    val metrics =
      if (a.trace) PerLayer.map(k => k -> got.getOrElse(k, 0.0))
      else EndToEnd.map(k => k -> got(k))
    val correct = res.failed == 0 && res.checks.forall(_._2)
    val json =
      s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},""" +
        s""""trace":${a.trace},"correct":$correct,""" +
        s""""attempted":${res.attempted},"failed":${res.failed},""" +
        s""""failures":${res.failures.map(Json.str).mkString("[", ",", "]")},""" +
        s""""checks":${res.checks.map { case (k, v) => s"${Json.str(k)}:$v" }
          .mkString("{", ",", "}")},""" +
        s""""extra":${res.extra.map { case (k, v) => s"${Json.str(k)}:$v" }
          .mkString("{", ",", "}")},""" +
        s""""metrics":${Json.obj(metrics)}}"""
    Files.writeString(a.out, json + "\n")
    if (a.trace) {
      val counts = metrics.toMap
      Files.writeString(
        a.out.resolveSibling(a.out.getFileName.toString
          .replace(".json", "") + ".spans.json"),
        tracer.toJson(s"${a.workload}-${a.seed}", counts) + "\n")
    }
    sys.exit(if (correct) 0 else 1)
  }

  /** Peak resident set of this JVM (VmHWM). The Derby databases and the
    * Spark executors all live in this one process.
    */
  def peakRssMb(): Double = {
    val st = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    st.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
  }

  /** Wall of a bare one-task job, min of 3: the scheduler-floor telltale
    * recorded on every run (a loaded host shows here first).
    */
  def bareJobMs(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e6
    }.min

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Which warm operations a traced run traces: 1, 4, 5, 8, ... (ABBA), so
    * traced and untraced operations sit evenly on the JIT warm-up curve and
    * their difference is the tracing overhead.
    */
  def tracedOp(trace: Boolean, i: Int): Boolean = trace && i % 4 <= 1

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

/** `StageClock` totals of one traced operation or sample. */
final case class Clock(jobs: Double, stages: Double, taskS: Double,
    cpuS: Double, shuffleBytes: Double)

object Clock {
  /** Wait for the listener bus, then read the totals since the last reset. */
  def read(c: graft.StageClock): Clock = {
    c.quiesce()
    val (stages, task, cpu, _) = c.snapshot()
    Clock(c.jobs, stages, task, cpu, c.shuffleBytes.toDouble)
  }

  /** The scheduler metrics, each aggregated by `agg` over a field. */
  def metrics(agg: (Clock => Double) => Double): Seq[(String, Double)] = Seq(
    "spark.jobs" -> agg(_.jobs), "spark.stages" -> agg(_.stages),
    "spark.task_s" -> agg(_.taskS), "spark.cpu_s" -> agg(_.cpuS),
    "spark.shuffle_bytes" -> agg(_.shuffleBytes))
}

/** Everything a workload needs from the process. */
final case class Env(spark: SparkSession, args: Harness.Args,
    tracer: Tracer, tasks: TaskLog, clock: graft.StageClock,
    sessionS: Double) {
  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Task-level log: every finished task's launch time, run time and input
  * rows, so a call can sum the task work launched inside its interval.
  */
final class TaskLog extends SparkListener {
  final case class T(launchMs: Long, runMs: Long, inputRecords: Long)
  private val buf = scala.collection.mutable.ArrayBuffer[T]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      buf += T(e.taskInfo.launchTime, m.executorRunTime,
        m.inputMetrics.recordsRead)
    }
  }

  /** Tasks launched in the wall-clock window [fromMs, toMs]. */
  def within(fromMs: Long, toMs: Long): Seq[T] = synchronized {
    buf.filter(t => t.launchMs >= fromMs && t.launchMs <= toMs).toList
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * events arrive in order, so once a marker job's task end is in, so is
    * everything before it.
    */
  def drain(spark: SparkSession): Unit = {
    val mark = System.currentTimeMillis()
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 5000000000L
    while (!synchronized(buf.exists(_.launchMs >= mark)) &&
      System.nanoTime() < deadline) Thread.sleep(5)
  }
}
