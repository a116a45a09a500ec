package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.SparkSession
import graft.flow.{CorpusConfig, CorpusFlow, FlowConfig, Pipelines, Runner}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation: a flow task attempt or a declared query. */
final case class Op(name: String, seconds: Double, failed: Boolean)

/** What one round of a workload did, timed with tracing off or on. */
final case class Round(dir: String, start: Long, end: Long, ops: Seq[Op],
                       skipped: Int) {
  def wall: Double = (end - start) / 1e6
}

/** The benchmark's JVM side. It drives the program only through its public
  * entry points (flow.Runner with flow.Pipelines / flow.CorpusFlow tasks,
  * the SparkEntry.queries registry, the Runner events hook and Spark's
  * listener API) and writes one JSON result file for perfbench/run.py.
  *
  * Arguments are key=value pairs: workload, data, run, seconds, trace,
  * cpus, seed, out. A run sets up the session (timed from JVM start),
  * runs one untimed warm-up round, sets the session up again several
  * times, then repeats timed rounds of the workload, each on fresh output
  * directories, until `seconds` have passed (at least one). */
object Harness {
  val SetupRepeats = 5
  private val fmt = DateTimeFormatter.ofPattern("MM-dd-yyyy")

  /** The session graft.Bench builds, plus its warm-up. */
  def setUp(cpus: Int, dataDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    // the flow workloads have no lineitem table to warm the reader on
    if (new java.io.File(s"$dataDir/lineitem.parquet").exists())
      graft.Tables.lineitem(spark, dataDir).limit(1).count()
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val runDir = opt("run")
    val seconds = opt("seconds").toDouble
    val cpus = opt("cpus").toInt
    val tracer = new Tracer(opt("trace") == "1")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = setUp(cpus, data)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)

    def make(t: Tracer): Workload = workload match {
      case "daily" => new Daily(spark, t, data, runDir)
      case "curate" => new Curate(spark, t, data, runDir)
      case "queries" => new Queries(spark, t, data, runDir, opt("seed").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // one untimed, untraced round first: a fresh JVM spends its first round
    // on the JIT and on filling Spark's code caches, and how long that takes
    // depends more on the host's other load than on the program
    val warmTracer = new Tracer(false)
    val warm = make(warmTracer).round(0, warmTracer.open("workload", workload, 0L))

    // the later set-ups run once the JIT has caught up, so they time the
    // set-up's own work rather than the compiler threads it competes with
    for (_ <- 1 until SetupRepeats) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = setUp(cpus, data)
      setups += (System.nanoTime() - t0) / 1e9
    }

    if (tracer.enabled) spark.sparkContext.addSparkListener(tracer.listener)
    val wl = make(tracer)
    val root = tracer.open("workload", workload, 0L)
    val rounds = mutable.ArrayBuffer.empty[Round]
    while (rounds.isEmpty || tracer.now() - root.start < seconds * 1e6)
      rounds += wl.round(rounds.size + 1, root)
    tracer.close(root)
    val rssMb = peakRssMb()
    spark.stop()

    // everything below runs after the listener bus has drained
    val layers =
      if (tracer.enabled) Metrics.perLayer(tracer, root, rounds.toSeq, cpus, wl)
      else Map.empty[String, Double]
    if (tracer.enabled) writeSpans(Paths.get(s"$runDir/spans.jsonl"), tracer)
    Files.writeString(Paths.get(opt("out")), Json.obj(Seq(
      "setup_s" -> Json.arr(setups.toSeq.map(Json.num)),
      "peak_rss_mb" -> Json.num(rssMb),
      "warmup" -> roundJson(warm),
      "rounds" -> Json.arr(rounds.toSeq.map(roundJson)),
      "per_layer" -> Json.obj(layers.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "spark_by_parent" -> Metrics.sparkByParentJson(tracer, wl, rounds.size)
    ) ++ wl.extraJson))
  }

  private def roundJson(r: Round): String =
    Json.obj(Seq("dir" -> Json.str(r.dir), "wall_s" -> Json.num(r.wall),
      "ops" -> Json.arr(r.ops.map(o => Json.obj(Seq(
        "name" -> Json.str(o.name), "s" -> Json.num(o.seconds),
        "failed" -> Json.bool(o.failed)))))))

  /** VmHWM, the process's peak resident set, in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def writeSpans(path: Path, tracer: Tracer): Unit = {
    val lines = tracer.allSpans.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_us" -> Json.num(s.start.toDouble), "end_us" -> Json.num(s.end.toDouble),
        "failed" -> Json.bool(s.failed)))
    }
    Files.write(path, lines.asJava)
  }

  /** Hard-links every file of `src` into a new directory `dst`. A fresh
    * path per round gives each round fresh path-keyed state (schema cache
    * entries, content-keyed artifacts) without copying the data. */
  def linkTree(src: String, dst: String): String = {
    val s = Paths.get(src)
    Files.walk(s).iterator().asScala.foreach { p =>
      val q = Paths.get(dst).resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.createLink(q, p)
    }
    dst
  }

  def date(s: String): LocalDate = LocalDate.parse(s, fmt)
}

/** One workload: how a round runs and what it leaves for the checks. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer) {
  def round(i: Int, parent: Span): Round
  def extraJson: Seq[(String, String)] = Nil
  /** Task class or query phase a span belongs to, for per-parent tables. */
  def parentKey(s: Span): Option[String] = s.layer match {
    case "task" => Some("task." + s.name.takeWhile(_ != '('))
    case l if l.startsWith("query.") => Some(l)
    case _ => None
  }
}

/** Flow workloads: Runner calls whose task attempts are timed through the
  * events hook. The Start handler runs on the thread that runs the task
  * (these tasks have timeoutMs = 0), so it binds that thread's Spark jobs
  * to the task's span. */
abstract class FlowWorkload(spark: SparkSession, tracer: Tracer)
    extends Workload(spark, tracer) {
  private val open = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  @volatile private var skipped = 0
  @volatile private var call: Span = _

  private val events: Runner.EventHandler = {
    case Runner.TaskEvent.Start(t) =>
      val s = tracer.open("task", t, call.id)
      open.put(t, s)
      tracer.bindThread(spark.sparkContext, s)
    case Runner.TaskEvent.Success(t, _) => finish(t, failed = false)
    case Runner.TaskEvent.Failure(t, _) => finish(t, failed = true)
    case Runner.TaskEvent.Skipped(_) => synchronized { skipped += 1 }
  }

  private def finish(task: String, failed: Boolean): Unit = {
    val s = tracer.close(open.remove(task))
    s.failed = failed
    tracer.unbindThread(spark.sparkContext)
    ops.add(Op(task, (s.end - s.start) / 1e6, failed))
  }

  /** Time one Runner call as a `flow` span; a call that throws leaves its
    * failed attempts in the ops, so the round carries on to its end. */
  protected def runnerCall(name: String, root: Span)
                          (body: Runner.EventHandler => Unit): Unit =
    tracer.span("flow", name, root.id) { s =>
      call = s
      try body(events)
      catch { case e: Throwable =>
        s.failed = true
        System.err.println(s"[perfbench] $name failed: $e")
        if (!ops.asScala.exists(_.failed)) ops.add(Op(name, 0.0, failed = true))
      }
    }

  protected def collect(dir: String, start: Long): Round = {
    val r = Round(dir, start, tracer.now(), ops.asScala.toSeq, skipped)
    ops.clear(); skipped = 0
    r
  }
}

/** The reference's two pipelines back to back on the serial scheduler:
  * TrainModel (limit 500) then the Classify backfill ending on the last
  * golden day. `data` holds one MM-dd-yyyy/roh.csv directory per day. */
final class Daily(spark: SparkSession, tracer: Tracer, data: String,
                  runDir: String) extends FlowWorkload(spark, tracer) {
  private val days = new java.io.File(data).listFiles()
    .filter(_.isDirectory).map(_.getName).sortBy(Harness.date)
  private val stop = Harness.date(days.last)

  def round(i: Int, root: Span): Round = {
    val base = s"$runDir/daily_r$i"
    val cfg = FlowConfig(base, data, version = 1, limit = 500)
    val t0 = tracer.now()
    runnerCall("Runner.run", root) { ev =>
      Runner.run(Pipelines.TrainModel(cfg), spark, events = ev)
    }
    runnerCall("Runner.backfill", root) { ev =>
      Runner.backfill(d => Pipelines.Classify(cfg, d), stop, days.length,
        spark, events = ev)
    }
    collect(base, t0)
  }
}

/** CorpusFlow.CurateAll on the parallel scheduler with 2 workers. */
final class Curate(spark: SparkSession, tracer: Tracer, data: String,
                   runDir: String) extends FlowWorkload(spark, tracer) {
  def round(i: Int, root: Span): Round = {
    val sf = Harness.linkTree(data, s"$runDir/curate_in_r$i")
    val base = s"$runDir/curate_r$i"
    val cfg = CorpusConfig(base, sf, sliceSize = 1000, overlap = 200)
    val t0 = tracer.now()
    runnerCall("Runner.runParallel", root) { ev =>
      Runner.runParallel(CorpusFlow.CurateAll(cfg), spark, workers = 2, events = ev)
    }
    collect(base, t0)
  }
}

/** A fixed panel of declared queries in a seeded order, each built,
  * planned and executed in full: execution writes every row of the result
  * as parquet, so no column the user would receive is pruned, and the
  * written results are what perfbench/check.py compares with DuckDB. */
final class Queries(spark: SparkSession, tracer: Tracer, data: String,
                    runDir: String, seed: Long) extends Workload(spark, tracer) {
  private val registry = graft.SparkEntry.queries
  /** Query name → the package of the QueryModule that declares it. */
  val module: Map[String, String] = {
    val m = graft.SparkEntry.getClass.getDeclaredMethod("modules")
    m.setAccessible(true)
    m.invoke(graft.SparkEntry).asInstanceOf[Seq[graft.QueryModule]].flatMap { q =>
      val pkg = q.getClass.getPackage.getName.stripPrefix("graft.")
      q.queries.keys.map(_ -> pkg)
    }.toMap
  }
  /** Every PanelStride-th query by name within each module's package: a
    * systematic sample that keeps each package's share of the registry and
    * holds at least one query of each. */
  val panel: Seq[String] = {
    val sampled = registry.keys.toSeq.groupBy(module.getOrElse(_, "other")).toSeq.sortBy(_._1)
      .flatMap { case (_, names) =>
        names.sorted.zipWithIndex.collect { case (n, i) if i % Queries.PanelStride == 0 => n }
      }
    new scala.util.Random(seed).shuffle(sampled)
  }

  def round(i: Int, root: Span): Round = {
    val dir = Harness.linkTree(data, s"$runDir/queries_in_r$i")
    val out = s"$runDir/results_r$i"
    val t0 = tracer.now()
    val ops = panel.map { name =>
      val q = tracer.open("query", name, root.id)
      val ok = try {
        val df = phase("query.build", name, q)(registry(name)(spark, dir))
        phase("query.plan", name, q)(df.queryExecution.executedPlan)
        phase("query.exec", name, q)(df.write.parquet(s"$out/$name"))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e"); false
      }
      tracer.close(q)
      q.failed = !ok
      Op(name, (q.end - q.start) / 1e6, !ok)
    }
    Round(out, t0, tracer.now(), ops, 0)
  }

  private def phase[A](layer: String, name: String, q: Span)(body: => A): A =
    tracer.span(layer, name, q.id) { s =>
      tracer.bindThread(spark.sparkContext, s)
      try body finally tracer.unbindThread(spark.sparkContext)
    }

  override def extraJson: Seq[(String, String)] = Seq(
    "oracle" -> Json.obj(panel.flatMap(n =>
      graft.SparkEntry.oracleSql.get(n).map(sql => n -> Json.str(sql)))),
    "panel" -> Json.arr(panel.map(Json.str)),
    "modules" -> Json.obj(panel.map(n => n -> Json.str(module.getOrElse(n, "other")))))
}

object Queries {
  val PanelStride = 60
}

/** Minimal JSON writer: the harness emits flat numbers, strings, arrays
  * and objects only. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def bool(b: Boolean): String = b.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
