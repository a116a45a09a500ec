package graft.flow

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.feature.{HashingTF, Tokenizer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's two pipelines, rebuilt on the graft orchestrator
  * (SURVEY.md §7.1 M3) against fixture data:
  *
  *   training: Ingest -> CleanTrain -> TrainModel
  *     (reference 00_training_pipeline.py: Download -> Clean -> TrainModel)
  *   daily:    Fetch(date) -> CleanDaily(date) -> Classify(date)
  *     with Classify requiring [ModelExists(version), CleanDaily] (O2/O5;
  *     reference 01_classification_pipeline.py:155-156)
  *
  * `sourceDir` stands in for the Reddit API (D1): per-date golden
  * `roh.csv` fixtures. All intermediate artifacts are Spark csv/parquet
  * directory targets written atomically — the reference's driver-side
  * pandas sinks (D6, D26) are deliberately NOT reproduced; executors write.
  *
  * Model: Tokenizer -> HashingTF(numFeatures=1000, binary=false) ->
  * DecisionTreeClassifier(gini, maxDepth=5, maxBins=32) — exactly the
  * persisted stage config of the reference model
  * (model/1/model/stages metadata; 00_training_pipeline.py:137-141).
  */
final case class FlowConfig(baseDir: String, sourceDir: String,
                            version: Int = 1, limit: Int = 500)

object Pipelines {
  private val fmt = DateTimeFormatter.ofPattern("MM-dd-yyyy")

  private def readSemiCsv(spark: SparkSession, path: String) =
    graft.text.Clean.readRohCsv(spark, path)

  /** coalesce(1) is the reference's ONE-FILE csv contract
    * (00_training_pipeline.py writes a single roh.csv per day), not an
    * engine limitation: the write stays executor-side, and the contract
    * itself — one file — is what serializes it. Multi-file consumers
    * would drop the coalesce and keep everything else. */
  private def writeSemiCsv(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.coalesce(1).write.option("header", true).option("delimiter", ";")
      .option("escape", "\"").csv(dir)

  // ---- training pipeline ------------------------------------------------

  /** Download-equivalent (D1/D3/D4/D5): per-class slices of the source,
    * capped at `limit` rows per class. Two source modes:
    *  - `<sourceDir>/pages/` present: the pull goes through the
    *    DataSource V2 paged source (graft.sources.PagedJsonSource) —
    *    the real D1 shape, API pages read as input partitions;
    *  - otherwise: union the per-day roh.csv fixtures (sorted day order). */
  final case class Ingest(cfg: FlowConfig) extends Task {
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/model/${cfg.version}/raw.csv")
    def run(spark: SparkSession): Unit = {
      import spark.implicits._
      val pagesDir = new java.io.File(s"${cfg.sourceDir}/pages")
      val source =
        if (pagesDir.isDirectory)
          spark.read.format("graft.sources.PagedJsonSource")
            .option("path", pagesDir.getAbsolutePath).load()
            // content columns only: the source's ordinal cursor column
            // is a paging detail, not part of the roh contract
            .select("id", "title", "selftext", "subreddit")
        else {
          val days = new java.io.File(cfg.sourceDir).listFiles()
            .filter(_.isDirectory).map(_.getName).sorted
          days.map(d => readSemiCsv(spark, s"${cfg.sourceDir}/$d/roh.csv"))
            .reduce(_ unionByName _)
        }
      val perClass = Seq("datascience", "gameofthrones").map { cls =>
        source.filter($"subreddit" === cls).limit(cfg.limit)
      }
      output.atomicWrite(tmp => writeSemiCsv(perClass.reduce(_ unionByName _), tmp))
    }
  }

  /** Clean for training (D8-D15): the full text.Clean chain. */
  final case class CleanTrain(cfg: FlowConfig) extends Task {
    override val requires: Seq[Task] = Seq(Ingest(cfg))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/model/${cfg.version}/cleaned.csv")
    def run(spark: SparkSession): Unit = {
      val raw = readSemiCsv(spark, requires.head.output.uri)
      output.atomicWrite(tmp => writeSemiCsv(graft.text.Clean(raw), tmp))
    }
  }

  /** D16-D24: label via LIKE-cast, seeded 0.8/0.2 split, ml.Pipeline fit,
    * versioned model artifact. */
  final case class TrainModel(cfg: FlowConfig) extends Task {
    override val requires: Seq[Task] = Seq(CleanTrain(cfg))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/model/${cfg.version}/model")
    def run(spark: SparkSession): Unit = {
      import spark.implicits._
      val data = readSemiCsvCleaned(spark, requires.head.output.uri)
        .withColumn("label", $"subreddit".like("datascience").cast("double"))
      val Array(train, _) = data.randomSplit(Array(0.8, 0.2), seed = 42L)
      val pipeline = new Pipeline().setStages(Array(
        new Tokenizer().setInputCol("cleaned_words").setOutputCol("tokenized"),
        new HashingTF().setInputCol("tokenized").setOutputCol("features")
          .setNumFeatures(1000).setBinary(false),
        new DecisionTreeClassifier().setLabelCol("label")
          .setFeaturesCol("features").setImpurity("gini")
          .setMaxDepth(5).setMaxBins(32)))
      val model = pipeline.fit(train.na.fill("", Seq("cleaned_words")))
      output.atomicWrite(tmp => model.write.overwrite().save(tmp))
    }
  }

  private def readSemiCsvCleaned(spark: SparkSession, path: String) =
    spark.read.schema("id STRING, cleaned_words STRING, subreddit STRING")
      .option("header", true).option("delimiter", ";")
      .option("multiLine", true).option("escape", "\"").csv(path)

  // ---- daily pipeline ---------------------------------------------------

  /** Reddit-pull stand-in for one day (D1/D2): the per-date fixture. */
  final case class Fetch(cfg: FlowConfig, date: LocalDate) extends Task {
    override def name = s"Fetch(${date.format(fmt)})"
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/daily/${date.format(fmt)}/roh.csv")
    def run(spark: SparkSession): Unit = {
      val src = s"${cfg.sourceDir}/${date.format(fmt)}/roh.csv"
      output.atomicWrite(tmp => writeSemiCsv(readSemiCsv(spark, src), tmp))
    }
  }

  final case class CleanDaily(cfg: FlowConfig, date: LocalDate) extends Task {
    override def name = s"Clean(${date.format(fmt)})"
    override val requires: Seq[Task] = Seq(Fetch(cfg, date))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/daily/${date.format(fmt)}/cleaned.csv")
    def run(spark: SparkSession): Unit = {
      val raw = readSemiCsv(spark, requires.head.output.uri)
      output.atomicWrite(tmp => writeSemiCsv(graft.text.Clean(raw), tmp))
    }
  }

  /** Cross-pipeline sensor on the training pipeline's artifact (O5). */
  final case class ModelExists(cfg: FlowConfig) extends ExternalTask {
    val output: ExternalTarget =
      ExternalTarget(s"${cfg.baseDir}/model/${cfg.version}/model")
  }

  /** D25/D19/D26: load versioned model, score, map labels, publish.
    * Positional multi-input access (O2): requires(0)=model, requires(1)=cleaned.
    * The model is loaded once per commit and session ([[Committed]]), not
    * once per day of a backfill. */
  final case class Classify(cfg: FlowConfig, date: LocalDate) extends Task {
    override def name = s"Classify(${date.format(fmt)})"
    override val requires: Seq[Task] =
      Seq(ModelExists(cfg), CleanDaily(cfg, date))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/daily/${date.format(fmt)}/ergebnis.csv")
    def run(spark: SparkSession): Unit = {
      import spark.implicits._
      val model = Committed.model(spark, requires(0).output.uri)
      val cleaned = readSemiCsvCleaned(spark, requires(1).output.uri)
        .na.fill("", Seq("cleaned_words"))
      val scored = model.transform(cleaned)
        .select($"id", $"subreddit",
          vector_to_array($"probability").cast("string").as("probability"),
          $"prediction",
          when($"prediction" === 1, "datascience")
            .otherwise("gameofthrones").as("prediction_label"))
      output.atomicWrite(tmp => writeSemiCsv(scored, tmp))
    }
  }
}

/** Pipeline launch CLI (O9; reference run_pipeline.sh):
  *   graft.flow.Main train --base DIR --source DIR [--version N] [--limit N] [--workers N] [--history FILE]
  *   graft.flow.Main classify --base DIR --source DIR --stop MM-dd-yyyy --days-back N [--history FILE]
  * --history FILE appends one JSON line per task lifecycle event
  * (Runner.historySink — Luigi's task-history surface).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse(sys.error("usage: train|classify ..."))
    val opts = args.drop(1).sliding(2, 2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = FlowConfig(opts("base"), opts("source"),
      opts.getOrElse("version", "1").toInt, opts.getOrElse("limit", "500").toInt)
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    val log = (s: String) => println(s"[graft.flow] $s")
    val events: Runner.EventHandler =
      opts.get("history").map(Runner.historySink).getOrElse(_ => ())
    // Luigi's --workers N: how many tasks the scheduler runs at once
    val workers = opts.getOrElse("workers", "1").toInt
    def exec(root: Task): Seq[String] =
      Runner.runParallel(root, spark, workers, log, events = events)
    cmd match {
      case "train" => exec(Pipelines.TrainModel(cfg))
      case "classify" =>
        val fmt = DateTimeFormatter.ofPattern("MM-dd-yyyy")
        val stop = LocalDate.parse(opts("stop"), fmt)
        Runner.backfill(d => Pipelines.Classify(cfg, d), stop,
          opts.getOrElse("days-back", "4").toInt, spark, reverse = true, log,
          events = events)
      // the corpus-curation DAG (CorpusFlow): --base <workdir>
      // --source <sfDir> [--slice N --overlap N --quota N --eval-every N]
      // [--url-dedup true] [--image-dedup true] [--media-consensus true]
      // [--dsir-min-micro N] [--max-forcast G]
      // (flags take explicit values — the opts parser is strict k/v)
      case "curate" =>
        exec(CorpusFlow.CurateAll(CorpusConfig(
          opts("base"), opts("source"),
          sliceSize = opts.getOrElse("slice", "200").toLong,
          overlap = opts.getOrElse("overlap", "50").toLong,
          quotaPerLang = opts.getOrElse("quota", "30").toLong,
          evalEvery = opts.getOrElse("eval-every", "50").toLong,
          dsirMinMicro = opts.get("dsir-min-micro").map(_.toLong),
          urlDedup = opts.get("url-dedup").exists(_.toBoolean),
          imageDedup = opts.get("image-dedup").exists(_.toBoolean) ||
            opts.get("media-consensus").exists(_.toBoolean),
          mediaConsensus = opts.get("media-consensus").exists(_.toBoolean),
          maxForcastGrade = opts.get("max-forcast").map(_.toDouble))))
      case other => sys.error(s"unknown command $other")
    }
    spark.stop()
  }
}
