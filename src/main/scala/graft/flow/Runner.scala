package graft.flow

import java.time.LocalDate
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Single-process scheduler (the `--local-scheduler` mode the reference
  * always uses, run_pipeline.sh:3-4). One loop, [[Runner.runParallel]],
  * collects the `requires` DAG, fails early on a missing external
  * sensor, skips complete tasks (O3) and runs the rest wave by wave on
  * N workers; [[Runner.run]] is its one-worker case. Both return the
  * names of tasks actually executed, in order — the tests assert
  * idempotency with it.
  */
object Runner {

  final case class CycleException(at: String)
    extends RuntimeException(s"dependency cycle at task $at")

  /** A timed-out attempt whose worker thread survived job-group
    * cancellation + interrupt + [[Task.zombieGraceMs]]: retrying while
    * it runs would race two attempts on the target commit, so the
    * scheduler aborts the task instead of retrying. */
  final case class ZombieTaskException(msg: String)
    extends RuntimeException(msg)

  /** Scheduler lifecycle events (Luigi's event-handler surface —
    * Event.START/SUCCESS/FAILURE — plus the skip that Luigi reports as
    * "already done"). SUCCESS carries the processing time, Luigi's
    * PROCESSING_TIME event folded in. Handlers run on the scheduler
    * thread that ran the task; a history sink is just a handler that
    * appends. */
  sealed trait TaskEvent { def task: String }
  object TaskEvent {
    final case class Start(task: String) extends TaskEvent
    final case class Success(task: String, millis: Long) extends TaskEvent
    final case class Failure(task: String, error: Throwable) extends TaskEvent
    final case class Skipped(task: String) extends TaskEvent
  }
  type EventHandler = TaskEvent => Unit
  private val noEvents: EventHandler = _ => ()

  /** Luigi's task-history database as an event sink: one JSON line per
    * lifecycle event, appended (thread-safe — parallel waves share the
    * handler) to a local file. Line shape:
    * {"ts_ms":…,"event":"start|success|failure|skipped","task":…,
    *  "millis":…,"error":…} with absent fields omitted. */
  def historySink(path: String): EventHandler = {
    val file = java.nio.file.Paths.get(path)
    Option(file.getParent).foreach(java.nio.file.Files.createDirectories(_))
    def named(event: String, t: String): String =
      s""""event":"$event","task":${graft.Verify.jsonString(t)}"""
    ev => {
      val fields = Seq(s""""ts_ms":${System.currentTimeMillis()}""") ++ (ev match {
        case TaskEvent.Start(t) => Seq(named("start", t))
        case TaskEvent.Success(t, ms) =>
          Seq(named("success", t), s""""millis":$ms""")
        case TaskEvent.Failure(t, e) =>
          Seq(named("failure", t), "\"error\":" +
            graft.Verify.jsonString(String.valueOf(e.getMessage)))
        case TaskEvent.Skipped(t) => Seq(named("skipped", t))
      })
      val line = fields.mkString("{", ",", "}") + "\n"
      file.synchronized {
        java.nio.file.Files.writeString(file, line,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
    }
  }

  /** One attempt body, honoring Task.timeoutMs (Luigi worker_timeout):
    * the run executes in a named worker thread under its own Spark job
    * group; on expiry the job group is cancelled (interrupting the
    * thread alone never stops a live Spark job), the thread
    * interrupted, and a TimeoutException thrown — which the attempt
    * loop counts as an ordinary Failure, so the retry budget applies. */
  private def runWithTimeout(t: Task, spark: SparkSession): Unit =
    if (t.timeoutMs <= 0L) t.run(spark)
    else {
      val group = s"graft-task-${t.name}-${System.nanoTime()}"
      @volatile var err: Throwable = null
      val th = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(group,
            s"${t.name} (timeoutMs=${t.timeoutMs})",
            interruptOnCancel = true)
          t.run(spark)
        } catch { case e: Throwable => err = e }
        finally spark.sparkContext.clearJobGroup()
      }, s"graft-worker-${t.name}")
      th.setDaemon(true)
      th.start()
      th.join(t.timeoutMs)
      if (th.isAlive) {
        spark.sparkContext.cancelJobGroup(group)
        th.interrupt()
        // the retry attempt must not start while this one can still
        // run: a worker that swallows the interrupt (or submits new
        // jobs after cancelJobGroup) would race the retry on the
        // task's atomic target commit, and a stale attempt could
        // clobber the retry's committed output AFTER the task was
        // reported successful. Grace-join; if the thread is still
        // alive, fail loudly as non-retryable instead of racing.
        th.join(math.max(1L, t.zombieGraceMs))
        if (th.isAlive)
          throw new ZombieTaskException(
            s"task ${t.name} still running ${t.zombieGraceMs} ms after " +
              s"cancellation at timeoutMs=${t.timeoutMs}; refusing to " +
              "retry against a live attempt")
        throw new java.util.concurrent.TimeoutException(
          s"task ${t.name} exceeded timeoutMs=${t.timeoutMs}")
      }
      if (err != null) throw err
    }

  private def attempt(t: Task, spark: SparkSession,
                      log: String => Unit, retries: Int,
                      events: EventHandler): Unit = {
    // per-task knob (Luigi retry_count) tops up the runner default
    val budget = math.max(retries, t.retries)
    var tries = 0
    var lastErr: Throwable = null
    while (tries <= budget && !t.complete) {
      if (tries > 0) {
        val backoff = t.retryBackoffMs << (tries - 1)
        if (backoff > 0) Thread.sleep(backoff)
        log(s"RETRY ${t.name} (attempt ${tries + 1})")
      }
      events(TaskEvent.Start(t.name))
      val t0 = System.nanoTime()
      try {
        runWithTimeout(t, spark); lastErr = null
        events(TaskEvent.Success(t.name, (System.nanoTime() - t0) / 1000000))
      } catch {
        case z: ZombieTaskException =>
          // non-retryable by design: the timed-out attempt is still
          // alive, so any retry would race it on the target commit
          events(TaskEvent.Failure(t.name, z))
          throw z
        case e: Throwable =>
          lastErr = e
          events(TaskEvent.Failure(t.name, e))
      }
      tries += 1
    }
    if (lastErr != null) throw lastErr
  }

  /** Runs the attempt loop under the task's worker lease when
    * [[Task.leaseTtlMs]] is positive: acquire (or take over a stale
    * lease), heartbeat every TTL/3 on a daemon timer, release on exit.
    * A fresh foreign lease propagates [[LeaseHeldException]] — the
    * task belongs to a live worker in another process. */
  private def withLease[A](t: Task, owner: String)(body: => A): A =
    if (t.leaseTtlMs <= 0L) body
    else {
      Lease.acquire(t, owner)
      @volatile var live = true
      // theft detection (round 14): renew is a CAS — if the heartbeat
      // finds the lease gone/foreign (this worker stalled past the
      // TTL and a contender took over), the attempt must not be
      // reported successful, and the foreign lease must NOT be
      // released by us.
      @volatile var lost: Option[LeaseLostException] = None
      val renewer = new Thread(() => {
        while (live) {
          try Thread.sleep(math.max(1L, t.leaseTtlMs / 3))
          catch { case _: InterruptedException => () }
          if (live) {
            try Lease.renew(t, owner)
            catch {
              case e: LeaseLostException => lost = Some(e); live = false
            }
          }
        }
      }, s"graft-lease-${t.name}")
      renewer.setDaemon(true)
      renewer.start()
      try {
        val r = body
        lost.foreach(throw _)
        r
      } finally {
        live = false; renewer.interrupt()
        if (lost.isEmpty) Lease.release(t, owner)
      }
    }

  /** Luigi's `--workers 1`: [[runParallel]] on one worker, so tasks run
    * one at a time in its wave order and the first failure stops the
    * run. */
  def run(root: Task, spark: SparkSession,
          log: String => Unit = _ => (),
          retries: Int = 0,
          events: EventHandler = noEvents,
          owner: String = Lease.workerId): Seq[String] =
    runParallel(root, spark, 1, log, retries, events, owner = owner)

  /** The scheduler (Luigi's `--workers N`): ready tasks run wave by wave
    * on `workers` threads. A wave is every pending task whose static and
    * dynamic dependencies are all done, admitted in (priority desc, name)
    * order, so the reported execution order is deterministic even when
    * the wave runs in parallel. Spark's scheduler is thread-safe, so
    * concurrent tasks become concurrent Spark jobs sharing the session.
    *
    * Sensors first: an incomplete [[ExternalTask]] is attempted as soon
    * as collecting the DAG reaches it, so a missing sensor in the static
    * closure fails the run before any task starts.
    *
    * Stop, drain, rethrow: once a task fails, no task that has not
    * started is started; the scheduler waits for every running task of
    * the wave, then rethrows the first failure's original Throwable
    * (fatal errors included) on the caller's thread.
    *
    * `resourceCaps` is Luigi's `[resources]` section: each named unit
    * has a capacity (default 1); a ready task joins a wave only if all
    * its declared `Task.resources` units fit within what the wave has
    * left — tasks sharing a capacity-1 resource therefore never overlap.
    * A task demanding more than a resource's total capacity runs alone
    * (with a log note) instead of deadlocking the schedule. */
  def runParallel(root: Task, spark: SparkSession, workers: Int,
                  log: String => Unit = _ => (),
                  retries: Int = 0,
                  events: EventHandler = noEvents,
                  resourceCaps: Map[String, Int] = Map.empty,
                  owner: String = Lease.workerId): Seq[String] = {
    // one task: skip it if complete, else run its attempt loop under its
    // lease; the name comes back iff it ran
    def execute(t: Task): Option[String] =
      if (t.complete) {
        log(s"SKIP ${t.name} (complete)")
        events(TaskEvent.Skipped(t.name))
        None
      } else {
        log(s"RUN  ${t.name} -> ${t.output.uri}")
        withLease(t, owner) { attempt(t, spark, log, retries, events) }
        if (!t.complete) throw new IllegalStateException(
          s"task ${t.name} ran but target ${t.output.uri} still missing")
        Some(t.name)
      }
    val all = mutable.LinkedHashSet.empty[Task]
    def collect(t: Task, stack: Set[Task]): Unit = {
      if (stack(t)) throw CycleException(t.name)
      if (!all.contains(t)) {
        t.requires.foreach(collect(_, stack + t))
        t match {
          case s: ExternalTask if !s.complete => execute(s)
          case _ => ()
        }
        all += t
      }
    }
    collect(root, Set.empty)
    val executed = mutable.ArrayBuffer.empty[String]
    val done = mutable.Set.empty[Task]
    val pending = mutable.LinkedHashSet.empty[Task]
    pending ++= all
    // dynamic deps (Luigi yield): resolved on the scheduler thread the
    // first time a task's statics are all done; resolved tasks (and
    // their transitive closure) join `pending`, and the task itself is
    // gated until they finish. Cache = call-once contract.
    val dynCache = mutable.Map.empty[Task, Seq[Task]]
    def dynOf(t: Task): Seq[Task] = dynCache.getOrElseUpdate(t, {
      val dyn = if (t.complete) Seq.empty else t.dynamicRequires(spark)
      dyn.foreach { d =>
        if (!all.contains(d)) { collect(d, Set.empty); pending ++= (all -- done -- pending) }
      }
      dyn
    })
    val pool = Executors.newFixedThreadPool(math.max(1, workers))
    val failure = new AtomicReference[Throwable]()
    try {
      while (pending.nonEmpty) {
        // snapshot: dynOf may grow `pending` mid-scan; rescan while an
        // empty scan GREW pending (nested dynamic deps resolve one
        // level per scan) — an empty scan that resolved nothing new is
        // a real cycle/stall
        def scan(): Seq[Task] = pending.toSeq
          .filter(t => t.requires.forall(done) && dynOf(t).forall(done))
          .sortBy(t => (-t.priority, t.name))
        var ready = scan()
        var lastSize = -1
        while (ready.isEmpty && pending.size != lastSize) {
          lastSize = pending.size
          ready = scan()
        }
        if (ready.isEmpty) throw CycleException(pending.head.name)
        // greedy admission in (priority desc, name) order under the
        // resource capacities — Luigi's scheduler order
        def cap(r: String): Int = resourceCaps.getOrElse(r, 1)
        val used = mutable.Map.empty[String, Int].withDefaultValue(0)
        val admitted = ready.filter { t =>
          val fits = t.resources.forall { case (r, n) => used(r) + n <= cap(r) }
          if (fits) t.resources.foreach { case (r, n) => used(r) += n }
          fits
        }
        val wave =
          if (admitted.nonEmpty) admitted
          else {
            log(s"RESOURCE-OVERSIZED ${ready.head.name} " +
              s"(demands ${ready.head.resources}) — running alone")
            Seq(ready.head)
          }
        // each body catches everything into `failure`, so invokeAll
        // returns only when the whole wave has drained
        val bodies = wave.map[Callable[Option[String]]] { t => () =>
          if (failure.get != null) None
          else try execute(t) catch {
            case e: Throwable => failure.compareAndSet(null, e); None
          }
        }
        val ran = pool.invokeAll(bodies.asJava).asScala.flatMap(_.get)
        Option(failure.get).foreach(throw _)
        executed ++= ran
        pending --= wave
        done ++= wave
      }
    } finally pool.shutdown()
    executed.toSeq
  }

  /** Date-range backfill (O7): expand a task template over the `daysBack`
    * days ending at `stop`, newest first when `reverse` (the reference's
    * `RangeDailyBase --of Classify --days-back 4 --reverse`,
    * run_pipeline.sh:6-11); only-missing via O3 skip. */
  def backfill(mk: LocalDate => Task, stop: LocalDate, daysBack: Int,
               spark: SparkSession, reverse: Boolean = true,
               log: String => Unit = _ => (),
               events: EventHandler = noEvents): Seq[String] = {
    val dates0 = (0 until daysBack).map(d => stop.minusDays(d.toLong))
    val dates = if (reverse) dates0 else dates0.reverse
    dates.flatMap(d => run(mk(d), spark, log, events = events))
  }
}
