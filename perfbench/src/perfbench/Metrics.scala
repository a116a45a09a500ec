package perfbench

/** Per-layer metrics of a traced run, each a mean per round (counts and
  * seconds) unless its name says otherwise. Every workload reports every
  * name; a layer a workload does not exercise reads 0. */
object Metrics {
  val DailyTasks = Seq("Ingest", "CleanTrain", "TrainModel", "Fetch", "Clean", "Classify")
  val CurateTasks = Seq("PlanBatches", "IngestBatch", "QualityGate", "DedupBatch",
    "FpIndex", "NearDupBatch", "BandIndex", "BenchmarkShingles",
    "DecontaminateBatch", "MixBatch", "PackBatch", "TokenLedger", "DropLedger",
    "CurationFunnel", "CorpusReport")
  val Modules = Seq("ops", "text", "llm", "streaming")

  private def dur(s: Span): Double = (s.end - s.start) / 1e6

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val v = xs.sorted; val n = v.size
      if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
    }

  def perLayer(tr: Tracer, root: Span, rounds: Seq[Round], cpus: Int,
               wl: Workload): Map[String, Double] = {
    val n = rounds.size.toDouble
    val spans = tr.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    def of(layer: String) = spans.filter(_.layer == layer)
    val flows = of("flow"); val tasks = of("task"); val jobs = of("spark.job")
    val phases = spans.filter(_.layer.startsWith("query."))
    def jobsUnder(p: Span => Boolean) =
      jobs.count(j => byId.get(j.parent).exists(p)).toDouble
    def cls(s: Span) = s.name.takeWhile(_ != '(')
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // flow: scheduling, complete() checks and commits outside task bodies
    val ops = rounds.flatMap(_.ops)
    m("flow.tasks_run") = tasks.count(!_.failed) / n
    m("flow.tasks_skipped") = rounds.map(_.skipped).sum / n
    m("flow.task_failures") = tasks.count(_.failed) / n
    m("flow.sched_s") = flows.map { f =>
      Tracer.uncovered(f.start, f.end,
        tasks.filter(_.parent == f.id).map(t => (t.start, t.end)))
    }.sum / 1e6 / n
    m("flow.concurrency") =
      if (flows.isEmpty) 0.0 else tasks.map(dur).sum / flows.map(dur).sum
    m("flow.train_s") = flows.filter(_.name == "Runner.run").map(dur).sum / n
    m("flow.backfill_s") = flows.filter(_.name == "Runner.backfill").map(dur).sum / n

    // task bodies, per task class
    (DailyTasks ++ CurateTasks).foreach { c =>
      m(s"task.$c.s") = tasks.filter(cls(_) == c).map(dur).sum / n
      m(s"task.$c.jobs") = jobsUnder(p => p.layer == "task" && cls(p) == c) / n
    }

    // SparkEntry queries, split into build, plan and execute
    def phaseOf(l: String) = phases.filter(_.layer == l)
    m("query.build_s") = phaseOf("query.build").map(dur).sum / n
    m("query.plan_s") = phaseOf("query.plan").map(dur).sum / n
    m("query.exec_s") = phaseOf("query.exec").map(dur).sum / n
    m("query.build_jobs") = jobsUnder(_.layer == "query.build") / n
    m("query.exec_jobs") = jobsUnder(_.layer == "query.exec") / n
    m("query.with_build_jobs") = phaseOf("query.build").count { b =>
      jobs.exists(_.parent == b.id)
    } / n
    val moduleOf: Map[String, String] = wl match {
      case q: Queries => q.module
      case _ => Map.empty
    }
    Modules.foreach { mod =>
      def sum(l: String) = phaseOf(l)
        .filter(p => moduleOf.get(p.name).contains(mod)).map(dur).sum / n
      m(s"query.$mod.build_s") = sum("query.build")
      m(s"query.$mod.exec_s") = sum("query.exec")
    }

    // spark: the engine under all of them
    spark(tr, jobs, rounds.map(_.wall).sum, cpus).foreach { case (k, v) =>
      m(s"spark.$k") = if (k == "slot_util" || k == "task_skew" ||
        k == "peak_exec_mem_bytes") v else v / n
    }

    // wall-clock self time per layer over the whole timed window
    Tracer.selfTimes(spans, root.start, root.end).foreach { case (l, s) =>
      m(s"self_s.$l") = s / n
    }
    m("trace.wall_s") = median(rounds.map(_.wall))
    m("trace.ops") = ops.size / n
    m.toMap
  }

  /** Engine counters over `jobs` and the tasks they ran. Sums are totals;
    * slot_util, task_skew and peak_exec_mem_bytes are already ratios or
    * maxima. */
  def spark(tr: Tracer, jobs: Seq[Span], wallS: Double, cpus: Int): Map[String, Double] = {
    val ids = jobs.map(_.id).toSet
    val recs = tr.allTasks.filter(t => tr.jobOfStage(t.stage).exists(j => ids(j.id)))
    val stages = tr.allSpans.filter(s => s.layer == "spark.stage" && ids(s.parent))
    val byJob = recs.groupBy(t => tr.jobOfStage(t.stage).get.id)
    val busy = recs.map(_.runMs).sum / 1e3
    val skews = recs.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finish - t.launch).toDouble)
      d.max / math.max(1.0, median(d))
    }.toSeq
    Map(
      "jobs" -> jobs.size.toDouble,
      "stages" -> stages.size.toDouble,
      "tasks" -> recs.size.toDouble,
      "executor_busy_s" -> busy,
      "slot_util" -> (if (wallS > 0) busy / (cpus * wallS) else 0.0),
      "job_gap_s" -> jobs.map { j =>
        Tracer.uncovered(j.start, j.end,
          byJob.getOrElse(j.id, Nil).map(t => (t.launch, t.finish)))
      }.sum / 1e6,
      "gc_s" -> recs.map(_.gcMs).sum / 1e3,
      "shuffle_write_bytes" -> recs.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> recs.map(_.shuffleRead).sum.toDouble,
      "spill_bytes" -> recs.map(_.spill).sum.toDouble,
      "input_bytes" -> recs.map(_.input).sum.toDouble,
      "output_bytes" -> recs.map(_.output).sum.toDouble,
      "task_skew" -> median(skews),
      "peak_exec_mem_bytes" -> (if (recs.isEmpty) 0.0 else recs.map(_.peakMem).max.toDouble))
  }

  /** The spark counters split per task class or query phase, per round. */
  def sparkByParentJson(tr: Tracer, wl: Workload, rounds: Int): String = {
    if (!tr.enabled) return Json.obj(Nil)
    val spans = tr.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = spans.filter(_.layer == "spark.job")
    val grouped = jobs.groupBy(j => byId.get(j.parent).flatMap(wl.parentKey).getOrElse("other"))
    Json.obj(grouped.toSeq.sortBy(_._1).map { case (k, js) =>
      k -> Json.obj(spark(tr, js, 0.0, 1).toSeq.sorted.collect {
        case (name, v) if name != "slot_util" =>
          name -> Json.num(if (name == "task_skew" || name == "peak_exec_mem_bytes") v
                           else v / rounds)
      })
    })
  }
}
