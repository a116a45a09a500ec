package graft.flow

import org.apache.spark.sql.SparkSession

/** A node in the dependency DAG (Luigi `Task` semantics, SURVEY.md §2.1).
  *
  *  - O1: `requires` declares upstream edges; upstream must be COMPLETE
  *    (target exists) before `run` (reference 00_training_pipeline.py:65-66).
  *  - O2: multi-dependency with positional input access — downstream reads
  *    `requires(i).output.uri` (reference 01_classification_pipeline.py:156,182,185).
  *  - O3: a task is complete iff its output exists; complete tasks are
  *    skipped on re-run (idempotent backfill).
  *  - O6: parameterization is plain case-class constructor args flowing
  *    into target paths (reference `version`/`limit`/`date` params).
  *  - O8: the reference isolates each Spark task in its own spark-submit
  *    process (PySparkTask); our tasks receive a shared SparkSession per
  *    the driver contract — at cluster scale the Runner could fork, the
  *    Task API is agnostic.
  */
trait Task {
  def name: String = getClass.getSimpleName.stripSuffix("$")
  def requires: Seq[Task] = Seq.empty
  /** Luigi `resources`: named units this task holds for its whole run.
    * The scheduler admits a task to a wave only when every resource has
    * that many units free (capacities from `runParallel`'s
    * `resourceCaps` argument, default 1 per name) — how Luigi
    * rate-limits e.g. concurrent writers against one database. Empty =
    * unconstrained. */
  def resources: Map[String, Int] = Map.empty
  /** Luigi `priority`: among READY tasks, higher runs first (name
    * tiebreak keeps the schedule deterministic), under `run` and
    * `runParallel` alike. Priority orders a wave's admission — it never
    * overrides dependencies or resource capacities, exactly Luigi's
    * contract. Default 0. */
  def priority: Int = 0
  /** Luigi DYNAMIC dependencies (`yield` inside `run`): requirements
    * that cannot be declared statically because they are a function of
    * upstream OUTPUTS (e.g. one task per partition listed in an
    * upstream manifest). Called by the scheduler AFTER every static
    * `requires` is complete and only for incomplete tasks; every
    * returned task (with its own transitive deps, static and dynamic)
    * is completed before `run` fires. Must be deterministic and cheap
    * (read a manifest, list a directory) — heavy work belongs in the
    * tasks it returns. Default: none. */
  def dynamicRequires(spark: SparkSession): Seq[Task] = Seq.empty
  /** Luigi `retry_count`: this task's OWN retry budget. The scheduler
    * allows max(runner retries, task retries) extra attempts — a flaky
    * task can declare resilience without the whole pipeline inheriting
    * it. Completed dependencies are never re-run by a retry (the
    * attempt loop re-runs only this task). Default 0. */
  def retries: Int = 0
  /** Exponential backoff base: before retry k (1-based) the scheduler
    * sleeps retryBackoffMs << (k-1) milliseconds (Luigi's
    * retry_delay, made exponential). 0 = immediate retry. Default 0 so
    * tests and backfills stay fast; a REST-source task would set
    * e.g. 500. */
  def retryBackoffMs: Long = 0L
  /** Luigi `worker_timeout`: wall-clock budget for ONE attempt of this
    * task's run(); 0 = unlimited (default). On expiry the scheduler
    * cancels the task's Spark job group (the only cancellation Spark
    * actually honors — thread interrupts alone don't stop a running
    * job), interrupts the worker thread, and records a Failure, so a
    * positive [[retries]] budget gets the usual fresh attempts. */
  def timeoutMs: Long = 0L
  /** Grace the scheduler gives a CANCELLED attempt's worker thread to
    * actually die before declaring it a zombie: an attempt that
    * swallows the interrupt (or keeps submitting jobs after its job
    * group was cancelled) must not overlap its own retry — both would
    * race on [[output]]'s atomic commit, and the stale one could
    * clobber the retry's result after success was reported. A still-
    * alive thread past this grace aborts the task as non-retryable
    * ([[Runner.ZombieTaskException]]). */
  def zombieGraceMs: Long = 2000L
  /** Luigi worker `ping`: a positive TTL makes the runner hold a
    * renewable lease file beside [[output]] while this task's attempt
    * loop runs (renewed every TTL/3). A second runner PROCESS seeing a
    * lease renewed within the TTL refuses the task
    * ([[LeaseHeldException]]); one seeing a stale lease — what a killed
    * worker leaves behind — takes it over and finishes the work without
    * re-running completed dependencies. 0 (default) = no leasing. */
  def leaseTtlMs: Long = 0L
  def output: Target
  def run(spark: SparkSession): Unit
  final def complete: Boolean = output.exists
}

/** External-artifact sensor (O5): no work, just gate on existence. */
abstract class ExternalTask extends Task {
  final def run(spark: SparkSession): Unit =
    throw new IllegalStateException(
      s"external dependency missing: ${output.uri} (produced by another pipeline)")
}
