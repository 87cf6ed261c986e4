package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{Caches, QueryDef, SparkEntry, Tables}

/** The curation-catalog workload: headline queries from
  * `SparkEntry.benchDefs`, each sample rebuilt, re-planned and re-executed
  * from scratch after `Caches.unpersistAll` (no prepared-plan cache), under
  * the per-query profile `graft.Bench` applies.
  */
object CatalogWorkload {

  /** Headline queries across the catalog's modules and both serving tiers:
    * relational scans and joins, subqueries, intervals, event analytics,
    * dedup, text analysis, similarity and retrieval. The iterative
    * pipelines (q208 graph, q213 kNN graph, q225 IVF-PQ) and the other
    * queries whose unprepared sample takes over a second at 4 cores are
    * left out: a run cannot afford them.
    */
  val Queries: Seq[String] = Seq("q01", "q07", "q17", "q40", "q78", "q83",
    "q23", "q30", "q118", "q124")

  final case class Sample(wall: Double, build: Double, plan: Double,
      exec: Double, traced: Boolean, clock: Option[Clock])

  def run(env: Env): Harness.Result = {
    val spark = env.spark
    val dir = env.args.data
    val defs: Seq[QueryDef] = Queries.map(q =>
      SparkEntry.benchDefs.find(_.name.startsWith(q + "_")).getOrElse(
        throw new IllegalStateException(s"no headline query $q")))

    // setup: resolve every fixture table once (file listing + schema)
    val t0 = System.nanoTime()
    Tables.names.foreach(n => Tables.load(spark, dir, n).schema)
    val setupS = env.sessionS + (System.nanoTime() - t0) / 1e9
    val bare = Harness.bareJobMs(spark)

    val aqeDefault = spark.conf.get("spark.sql.adaptive.enabled")
    val shuffleDefault = spark.conf.get("spark.sql.shuffle.partitions")
    // the per-query profile graft.Bench applies
    def setProfile(d: QueryDef): Unit = {
      val aqe = if (d.lowLatency) "false" else aqeDefault
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions",
        if (d.lowLatency) "8" else shuffleDefault)
    }

    val failures = mutable.LinkedHashSet[String]()
    val expected = mutable.Map[String, Long]()
    var attempted = 0L
    val tr = env.tracer

    def sample(d: QueryDef, traced: Boolean): Option[Sample] = {
      attempted += 1
      setProfile(d)
      Caches.unpersistAll(spark)
      if (traced) { env.clock.quiesce(); env.clock.reset() }
      tr.active = traced
      try {
        val s0 = System.nanoTime()
        val rows = tr.span("query", attrs = Map("query" -> d.name)) {
          val df = tr.span("catalog.build")(d.build(spark, dir))
          val cdf = df.groupBy().count()
          val s1 = System.nanoTime()
          tr.span("catalog.plan")(cdf.queryExecution.executedPlan)
          val s2 = System.nanoTime()
          val n = tr.span("catalog.exec")(cdf.collect().head.getLong(0))
          (n, s1, s2)
        }
        val s3 = System.nanoTime()
        val (n, s1, s2) = rows
        tr.active = false
        expected.get(d.name) match {
          case Some(e) if e != n =>
            failures += s"${d.name}: $n rows, first run had $e"
          case Some(_) => ()
          case None => expected(d.name) = n
        }
        val clock = if (traced) Some(Clock.read(env.clock)) else None
        Some(Sample((s3 - s0) / 1e9, (s1 - s0) / 1e9, (s2 - s1) / 1e9,
          (s3 - s2) / 1e9, traced, clock))
      } catch {
        case NonFatal(e) =>
          tr.active = false
          failures += s"${d.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    val rng = new scala.util.Random(env.args.seed)
    // cold pass: the first execution of each query in this JVM
    tr.currentOp = 0
    val cold = rng.shuffle(defs).map(d => d.name -> sample(d, env.args.trace)).toMap
    // warm passes in a closed loop, each in a fresh seeded order; a traced
    // run traces passes 1, 4, 5, 8, ...
    val warm = mutable.Map[String, mutable.ArrayBuffer[Sample]]()
    val passInput = mutable.ArrayBuffer[(Long, Long)]()
    val t1 = System.nanoTime()
    var pass = 1
    while ((env.elapsedSince(t1) < env.args.seconds || pass <= 5) &&
      env.elapsedSince(t1) < 120) {
      val traced = Harness.tracedOp(env.args.trace, pass)
      tr.currentOp = pass
      val w0 = System.currentTimeMillis()
      rng.shuffle(defs).foreach(d => sample(d, traced).foreach(s =>
        warm.getOrElseUpdate(d.name, mutable.ArrayBuffer()) += s))
      passInput += ((w0, System.currentTimeMillis()))
      pass += 1
    }
    env.tasks.drain(spark)
    val inputRows = Harness.median(passInput.toList.map { case (a, b) =>
      env.tasks.within(a, b).map(_.inputRecords).sum.toDouble })

    def medOf(name: String, traced: Option[Boolean])(f: Sample => Double) =
      Harness.median(warm.getOrElse(name, Nil).toSeq
        .filter(s => traced.forall(_ == s.traced)).map(f))
    val names = defs.map(_.name)
    val catalogS = names.map(n => medOf(n, Some(false))(_.wall)).sum
    val e2e = Seq(
      "setup_s" -> setupS,
      "op_s" -> catalogS,
      "rows_per_s" -> inputRows / catalogS,
      "step_geomean_ms" -> Harness.geomean(
        names.map(n => medOf(n, Some(false))(_.wall))) * 1e3)
    val layers = if (!env.args.trace) Nil else {
      def sumT(f: Sample => Double) = names.map(n => medOf(n, Some(true))(f)).sum
      def clk(f: Clock => Double)(s: Sample) = s.clock.map(f).getOrElse(0.0)
      val coldS = cold.values.flatten.toSeq
      Seq(
        "catalog.build_s" -> sumT(_.build),
        "catalog.plan_s" -> sumT(_.plan),
        "catalog.exec_s" -> sumT(_.exec),
        "cold.s" -> coldS.map(_.wall).sum,
        "catalog.cold_build_s" -> coldS.map(_.build).sum,
        "catalog.cold_plan_s" -> coldS.map(_.plan).sum,
        "catalog.cold_exec_s" -> coldS.map(_.exec).sum,
        "catalog.floor_s" -> sumT(s =>
          math.max(0.0, s.wall - clk(_.taskS)(s) / Harness.Cores)),
        "bare_job_ms" -> bare,
        "trace.overhead_s" ->
          (sumT(_.wall) - names.map(n => medOf(n, Some(false))(_.wall)).sum)) ++
        Clock.metrics(f => sumT(clk(f))) ++
        names.map(n => s"catalog.q.${n.takeWhile(_ != '_')}_s" ->
          medOf(n, None)(_.wall))
    }
    val oracle = SparkEntry.oracleSql
    val extra = Seq(
      "passes" -> (pass - 1).toString,
      "bare_job_ms" -> Json.num(bare),
      "order" -> defs.map(d => Json.str(d.name)).mkString("[", ",", "]"),
      "rows" -> Json.obj(expected.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> v.toDouble }),
      "oracle" -> names.flatMap(n => oracle.get(n).map(sql =>
        s"${Json.str(n)}:${Json.str(sql)}")).mkString("{", ",", "}"),
      "query_s" -> Json.obj(names.map(n => n -> medOf(n, Some(false))(_.wall))),
      "cold_query_s" -> Json.obj(names.map(n =>
        n -> cold.get(n).flatten.map(_.wall).getOrElse(-1.0))))
    val missing = names.filterNot(expected.contains)
    Harness.Result(e2e ++ layers, attempted, failures.size.toLong,
      failures.toList, Seq("every query returns rows consistently" ->
        (failures.isEmpty && missing.isEmpty)), extra)
  }
}
