package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The batch workloads: fixed query lists from `SparkEntry.queries`,
  * run as one cold pass in the fresh session, a few settling passes,
  * then warm passes until the run's measuring time is used up (whole
  * passes, at least `MinWarmPasses`).
  *
  * The settling passes are counted but not timed: the passes after the
  * cold one still run partly interpreted code, which a long-lived
  * session pays once. With one settling pass the first timed pass was
  * still 15-45% slower than the rest (corpus_graph: 3.03 s, then
  * 1.85-2.34 s over eleven more; serving_sweep: 3.09 s, then
  * 2.42-2.89 s). The ramp is longer than a run can afford to wait out
  * (with three settling passes corpus_graph's timed passes still fell
  * from pass to pass in half of ten runs), so the settling passes take
  * the steepest part and the medians of the timed ones do the rest.
  *
  * Each query sample is timed in two phases under their own job groups:
  * build (the query function call, where `core.SharedFrames` and
  * `core.Lineage` leaves are built eagerly) and action (writing the
  * result as parquet, the frame the output check reads). */
object Batch {

  final case class Workload(queries: Seq[String], settlePasses: Int)

  /** Decision and dashboard surface: per-query fixed cost dominates,
    * almost no shared leaves. */
  val ServingSweep = Workload(Seq(
    "q_action_queue", "q_merge_upsert", "q_freshness"), settlePasses = 1)

  /** Text and graph analytics over shared leaves: executor work and
    * leaf builds dominate. */
  val CorpusGraph = Workload(Seq(
    "q_shingle_cosine", "q_logreg"), settlePasses = 2)

  val MinWarmPasses = 3

  final case class Sample(pass: Int, name: String, buildS: Double, actionS: Double,
                          wallS: Double, doneS: Double, ok: Boolean, error: String)

  final case class Pass(index: Int, wallS: Double, samples: Seq[Sample])

  def run(spark: SparkSession, workload: Workload, dataDir: String, outDir: String,
          seconds: Double, ledger: Ledger, trace: Boolean): Map[String, Any] = {
    val names = workload.queries
    val sc = spark.sparkContext

    def sample(pass: Int, passStart: Long, name: String): Sample = {
      val t0 = System.nanoTime()
      sc.setJobGroup(s"p$pass/$name/build", name, interruptOnCancel = false)
      var tBuilt = 0L
      val error = try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        tBuilt = System.nanoTime()
        sc.setJobGroup(s"p$pass/$name/action", name, interruptOnCancel = false)
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        ""
      } catch {
        case e: Throwable =>
          if (tBuilt == 0L) tBuilt = System.nanoTime()
          System.err.println(s"[perfbench] $name (pass $pass) FAILED: $e")
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      // same hygiene as the engine's own sweep: per-query persists must
      // not leak into the next query's timing
      spark.sharedState.cacheManager.clearCache()
      Sample(pass, name, (tBuilt - t0) / 1e9, (t1 - tBuilt) / 1e9, (t1 - t0) / 1e9,
        (t1 - passStart) / 1e9, error.isEmpty, error)
    }

    def pass(i: Int): Pass = {
      val t0 = System.nanoTime()
      val samples = names.map(sample(i, t0, _))
      Pass(i, (System.nanoTime() - t0) / 1e9, samples)
    }

    val cold = pass(0)
    val heapCold = Heap.liveMb()
    val settle = (1 to workload.settlePasses).map(pass)
    val warm = ArrayBuffer[Pass]()
    val w0 = System.nanoTime()
    while (warm.size < MinWarmPasses || (System.nanoTime() - w0) / 1e9 < seconds)
      warm += pass(warm.size + 1 + settle.size)
    val heapEnd = Heap.liveMb()
    ledger.fence(sc)
    val groups = ledger.snapshot()

    def passOf(g: String): Int =
      if (g.startsWith("p") && g.contains("/")) g.drop(1).takeWhile(_ != '/').toInt else -1
    val warmIdx = warm.map(_.index).toSet
    val perWarm = warm.map(p => ledger.sum(g => passOf(g) == p.index))

    val all = cold.samples ++ settle.flatMap(_.samples) ++ warm.flatMap(_.samples)
    val warmOk = warm.flatMap(_.samples).filter(_.ok)
    val lat = warmOk.map(_.wallS)
    // stand-in for the stream's release -> gold-commit freshness: from
    // the start of the fresh session's first pass over the input to the
    // commit of each output
    val fresh = cold.samples.filter(_.ok).map(_.doneS)
    val warmRows = perWarm.map(_.scanRows).sum.toDouble
    val metrics = Map(
      "cold_pass_s" -> cold.wallS,
      "pass_s" -> Stats.median(warm.map(_.wallS).toSeq),
      "query_p50_s" -> (if (lat.nonEmpty) Stats.median(lat.toSeq) else Double.NaN),
      "query_p90_s" -> (if (lat.nonEmpty) Stats.quantile(lat.toSeq, 0.9) else Double.NaN),
      "task_cpu_s" -> Stats.median(perWarm.map(_.cpuNs / 1e9).toSeq),
      "ingest_events_per_s" -> warmRows / warm.map(_.wallS).sum,
      "freshness_p50_s" -> (if (fresh.nonEmpty) Stats.median(fresh) else Double.NaN),
      "freshness_p90_s" -> (if (fresh.nonEmpty) Stats.quantile(fresh, 0.9) else Double.NaN),
      "heap_peak_mb" -> math.max(heapCold, heapEnd))

    // the action phase as Spark saw it: the spans of the root SQL
    // executions started under the sample's action group, taken from
    // Spark's execution start and end events, not from this file's clock
    def actionExecS(s: Sample): Double =
      groups.get(s"p${s.pass}/${s.name}/action").map(_.executionMs / 1e3).getOrElse(0.0)
    def gapS(s: Sample): Double = s.wallS - s.buildS - actionExecS(s)
    val okSamples = all.filter(_.ok)

    val layers: Map[String, Any] = if (!trace) Map.empty else {
      val coldBuild = ledger.sum(g => passOf(g) == 0 && g.endsWith("/build"))
      val n = warm.size.toDouble
      val w = ledger.sum(g => warmIdx(passOf(g)))
      val wAction = ledger.sum(g => warmIdx(passOf(g)) && g.endsWith("/action"))
      Map(
        "build_s" -> cold.samples.map(_.buildS).sum,
        "build_jobs" -> coldBuild.jobs.toDouble,
        "analysis_s" -> wAction.analysisMs / 1e3 / n,
        "optimize_s" -> wAction.optimizeMs / 1e3 / n,
        "planning_s" -> wAction.planningMs / 1e3 / n,
        "exchanges" -> wAction.exchanges / n) ++ taskLayers(w, n) ++
        Map("query_gap_pct" -> 100.0 * okSamples.map(s => math.abs(gapS(s))).sum /
          okSamples.map(_.wallS).sum)
    }

    val queries: Seq[Map[String, Any]] = if (!trace) Nil else all.map { s =>
      val b = groups.getOrElse(s"p${s.pass}/${s.name}/build", new Counters)
      val a = groups.getOrElse(s"p${s.pass}/${s.name}/action", new Counters)
      Map("pass" -> s.pass, "query" -> s.name, "ok" -> s.ok, "wall_s" -> s.wallS,
        "build_s" -> s.buildS, "action_s" -> s.actionS, "action_exec_s" -> actionExecS(s),
        "gap_s" -> (if (s.ok) gapS(s) else Double.NaN), "executions" -> a.executions,
        "build_jobs" -> b.jobs, "action_jobs" -> a.jobs, "stages" -> (b.stages + a.stages),
        "tasks" -> (b.tasks + a.tasks), "task_cpu_s" -> (b.cpuNs + a.cpuNs) / 1e9,
        "analysis_s" -> a.analysisMs / 1e3, "optimize_s" -> a.optimizeMs / 1e3,
        "planning_s" -> a.planningMs / 1e3, "exchanges" -> a.exchanges,
        "shuffle_read_mb" -> (b.shuffleReadB + a.shuffleReadB) / 1048576.0,
        "scan_rows" -> (b.scanRows + a.scanRows))
    }

    val lastOk = warm.last.samples.filter(_.ok).map(_.name)
    Map(
      "attempted" -> all.size,
      "failed" -> all.count(!_.ok),
      "failures" -> all.filterNot(_.ok).map(s => Map("query" -> s.name, "pass" -> s.pass,
        "error" -> s.error)),
      "passes" -> (1 + settle.size + warm.size),
      "settle_pass_s" -> settle.map(_.wallS),
      "warm_pass_s" -> warm.map(_.wallS),
      "warm_pass_cpu_s" -> perWarm.map(_.cpuNs / 1e9),
      "warm_samples" -> lat.size,
      "warm_query_s" -> names.map(n => n -> warm.flatMap(_.samples).filter(x => x.ok && x.name == n)
        .map(_.wallS)).toMap,
      "metrics" -> metrics,
      "layers" -> layers,
      "queries" -> queries,
      "check" -> Map("outputs" -> lastOk.map(n => n -> s"$outDir/$n").toMap,
        "oracle" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }

  /** Scheduler, executor, shuffle and scan layers, per pass. */
  def taskLayers(c: Counters, per: Double): Map[String, Double] = Map(
    "jobs" -> c.jobs / per,
    "stages" -> c.stages / per,
    "tasks" -> c.tasks / per,
    "sched_delay_s" -> c.schedMs / 1e3 / per,
    "task_run_s" -> c.runMs / 1e3 / per,
    "task_deser_s" -> c.deserMs / 1e3 / per,
    "gc_s" -> c.gcMs / 1e3 / per,
    "shuffle_write_mb" -> c.shuffleWriteB / 1048576.0 / per,
    "shuffle_read_mb" -> c.shuffleReadB / 1048576.0 / per,
    "spill_mb" -> c.spillB / 1048576.0 / per,
    "scan_mb" -> c.scanB / 1048576.0 / per,
    "scan_rows" -> c.scanRows / per)
}
