package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.{DagRunner, Model, ProjectLoader}
import graft.models.testkit.{NpoFixtures, NpoParquet}

/** Row count and an order-independent content hash of one output. */
final case class Digest(rows: Long, hash: Long)

/** One DuckDB oracle check: `sql` must return what Spark wrote to `sparkPath`. */
final case class Check(name: String, sql: String, sparkPath: String)

final case class TableStat(name: String, rows: Long, bytes: Long, digest: Digest)

/** A workload: inputs, a first checked run, then repeatable timed iterations. */
trait Workload {
  def name: String
  /** Generate or load the inputs; the figures are reported and recorded. */
  def prepare(): Seq[TableStat]
  /** Untimed first run; its outputs are what the oracle gate checks. */
  def checkRun(): Map[String, Digest]
  /** Outputs whose row counts must clear a floor, checked after [[checkRun]]:
    * output → (rows, rows whose joined measure is present, floor). An output
    * passes when both counts reach the floor, so an empty join cannot pass.
    */
  def rowGate(): Map[String, (Long, Long, Long)]
  def checks: Seq[Check]
  /** Extra DuckDB views the oracle SQL expects: view name → parquet glob. */
  def duckdbViews: Map[String, String] = Map.empty
  def iteration(t: Option[Tracer]): Map[String, Digest]
  def outputDirs: Seq[String]
  /** Rows in the workload's source tables (denominator of scan.rows_per_input_row). */
  def sourceRows: Long
  def stepMetrics(t: Tracer): Map[String, Double]
}

object Workloads {
  def tracedSpan[T](t: Option[Tracer], name: String)(body: => T): T =
    t match {
      case Some(tr) => tr.span(name)(body)
      case None => body
    }

  /** Count plus the sum (mod 2^31-1) of the xxhash64 of every row. */
  def digest(df: DataFrame): Digest = {
    val cols = df.columns.toIndexedSeq.map(c => col(s"`$c`"))
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  def dirBytes(dir: String, sinceMs: Long = Long.MinValue): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          Files.getLastModifiedTime(f).toMillis >= sinceMs).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def writeTable(spark: SparkSession, df: DataFrame, path: String): TableStat = {
    df.write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    val d = digest(back)
    TableStat(Paths.get(path).getFileName.toString.stripSuffix(".parquet"), d.rows,
      dirBytes(path), d)
  }
}

import Workloads._

/** The checked-in NPO project over seeded generated sources: a steady-state
  * daily incremental re-run into the warehouse built at set-up.
  */
final class NpoWorkload(spark: SparkSession, work: String, projectDir: String, seed: Long,
                        sizes: NpoSizes) extends Workload {
  val name = "npo_daily"
  private val inputs = s"$work/inputs/$name"
  private val warehouse = s"$work/wh/$name"
  private val today = NpoFixtures.today
  private var sourceRowCount = 0L
  /** The checked run's outputs, read back from their model_<name>.parquet. */
  private var lastBuilt: Map[String, DataFrame] = Map.empty

  def outputDirs: Seq[String] = Seq(warehouse)

  private def resolve(n: String): DataFrame =
    spark.read.parquet(s"$inputs/src_${NpoFixtures.physicalAliases.getOrElse(n, n)}.parquet")

  def prepare(): Seq[TableStat] = {
    deleteTree(inputs)
    deleteTree(s"$work/wh")
    val stats = new NpoGen(spark, seed, sizes).tables.toSeq.sortBy(_._1).map { case (n, df) =>
      // One file per table, except the event stream, which keeps one
      // file per generating partition.
      val out = if (n == "media_events") df else df.coalesce(1)
      writeTable(spark, out, s"$inputs/src_$n.parquet")
    }
    sourceRowCount = stats.map(_.rows).sum
    stats
  }

  def sourceRows: Long = sourceRowCount

  private var modelCount = 0

  /** ProjectLoader.load, DagRunner.run, then `read` every built model. */
  private def build(t: Option[Tracer], read: (String, DataFrame) => Digest)
      : Map[String, Digest] = {
    val proj = tracedSpan(t, "frontend.load") {
      ProjectLoader.load(spark, Paths.get(projectDir), vars = Map("today" -> s"DATE '$today'"))
    }
    modelCount = proj.models.size
    val built = tracedSpan(t, "dagrunner.run") {
      t match {
        case Some(tr) =>
          val steps = new StepSpans(tr)
          try DagRunner.run(spark, proj.models.map(steps.wrap), resolve, warehouse)
          finally steps.closeLast()
        case None => DagRunner.run(spark, proj.models, resolve, warehouse)
      }
    }
    built.toSeq.sortBy(_._1).map { case (n, df) =>
      n -> tracedSpan(t, s"read:$n")(read(n, df))
    }.toMap
  }

  def iteration(t: Option[Tracer]): Map[String, Digest] = build(t, (_, df) => digest(df))

  /** The oracles read each checked model's output, and the upstream outputs
    * it consumes, as model_<name>.parquet next to the sources (the
    * NpoParquet layout); those reads write the file and digest it. This run
    * builds the warehouse the timed iterations re-run into.
    */
  def checkRun(): Map[String, Digest] = {
    val oracled = checkedModels.values.toSet
    build(None, (n, df) =>
      if (!oracled(n)) digest(df)
      else {
        val path = s"$inputs/model_$n.parquet"
        df.coalesce(1).write.mode("overwrite").parquet(path)
        lastBuilt += n -> spark.read.parquet(path)
        digest(lastBuilt(n))
      })
  }

  /** Oracle row → the project model whose output it checks. */
  private val checkedModels: Map[String, String] = Map(
    "dag_poms_flattened" -> "poms_flattened",
    "dag_streams_daily" -> "atinternet_smarttag_streams_daily_v4",
    "dag_tvbroadcasts" -> "integral_reporting_tvbroadcasts",
    "dag_vodstreaming" -> "integral_reporting_vodstreaming",
    "dag_youtube" -> "integral_reporting_youtube",
    "dag_facebook" -> "integral_reporting_facebook",
    "dag_instagram" -> "integral_reporting_instagram",
    "dag_sites_and_apps" -> "integral_reporting_sites_and_apps",
    "dag_dashboard" -> "integral_reporting_dashboard_channel_weekly")

  def checks: Seq[Check] = checkedModels.toSeq.sorted.map { case (q, m) =>
    Check(q, NpoWorkload.substitute(SparkEntry.oracleSql(q), inputs),
      s"$inputs/model_$m.parquet")
  }

  /** Each reporting model and the dashboard: a measure that is only non-null
    * when the model's joins found real rows.
    */
  private val measures: Map[String, String] = Map(
    "atinternet_smarttag_streams_daily_v4" -> "mtd_type",
    "integral_reporting_tvbroadcasts" -> "tv_number_of_broadcasts",
    "integral_reporting_vodstreaming" -> "streaming_playcount_over_30s",
    "integral_reporting_youtube" -> "yt_views_per_week",
    "integral_reporting_facebook" -> "fb_reach_per_week",
    "integral_reporting_instagram" -> "ig_reach_per_week",
    "integral_reporting_sites_and_apps" -> "site_weekly_visitors",
    "integral_reporting_dashboard_channel_weekly" -> "weekly_reach_per_week")

  /** Every reporting model and the dashboard must give at least
    * `sizes.rowFloor` rows, as many of them with their joined measure.
    */
  def rowGate(): Map[String, (Long, Long, Long)] =
    measures.toSeq.sorted.map { case (m, c) =>
      val r = lastBuilt(m).agg(count(lit(1)), count(col(c))).head()
      m -> (r.getLong(0), r.getLong(1), sizes.rowFloor)
    }.toMap

  def stepMetrics(t: Tracer): Map[String, Double] = {
    val byName = t.spans.groupBy(_.name)
    def ms(n: String) = byName.getOrElse(n, Nil).map(_.ms).sum
    def jobs(n: String) = byName.getOrElse(n, Nil).flatMap(t.subtree).map(_.jobs).sum.toDouble
    NpoWorkload.models.flatMap { m =>
      Seq(s"step.$m.ms" -> (ms(s"model:$m") + ms(s"read:$m")),
        s"step.$m.jobs" -> (jobs(s"model:$m") + jobs(s"read:$m")))
    }.toMap + ("frontend.models" -> modelCount.toDouble)
  }
}

/** Opens a `model:<name>` span when DagRunner starts building a model and
  * keeps it open through that model's materialization (the writes DagRunner
  * issues after `build` returns), until the next model starts. Only the
  * benchmark's copy of each model is wrapped; the program is unchanged.
  */
final class StepSpans(tr: Tracer) {
  private var current: Option[Span] = None

  def wrap(m: Model): Model = m.copy(build = (s, refs) => {
    closeLast()
    current = Some(tr.open(s"model:${m.name}"))
    tr.span(s"build:${m.name}")(m.build(s, refs))
  })

  def closeLast(): Unit = { current.foreach(tr.close); current = None }
}

object NpoWorkload {
  /** The 20 models of fixtures/npo_project, for stable per-step metric names. */
  val models: Seq[String] = Seq(
    "360_graden_rapportage_vertaaltabel_upload_20_21",
    "advantedge_tv_viewer_density_per_show_daily_v1",
    "atinternet_smarttag_pages_programmes_weekly_v2",
    "atinternet_smarttag_pages_weekly_v2",
    "atinternet_smarttag_streams_daily_v4",
    "audiovisual_metadata_poms_metadata_v1",
    "dim_poms_episodes",
    "integral_reporting_dashboard_channel_weekly",
    "integral_reporting_facebook",
    "integral_reporting_instagram",
    "integral_reporting_sites_and_apps",
    "integral_reporting_tvbroadcasts",
    "integral_reporting_vodstreaming",
    "integral_reporting_youtube",
    "live_stream_name_mapping_v1",
    "media_events",
    "poms_flattened",
    "quintly_facebook_pages_weekly",
    "quintly_instagram_pages_weekly",
    "quintly_youtube_allchannels_weekly")

  /** Point a dag_* oracle at `dir` instead of the fixture directory it names. */
  def substitute(sql: String, dir: String): String = {
    require(sql.contains(NpoParquet.dir), s"oracle does not read ${NpoParquet.dir}")
    sql.replace(NpoParquet.dir, dir)
  }
}

/** The LLM curation queries over a seeded generated corpus, each through
  * `SparkEntry.queries`: the curated output is written as parquet, the
  * funnel and the PII redaction are consumed as results. The DuckDB oracles
  * judge the same queries over a small corpus from the same generator.
  */
final class CurationWorkload(spark: SparkSession, work: String, seed: Long, sizes: DocSizes,
                             checkSizes: DocSizes) extends Workload {
  val name = "llm_curation"
  private val inputs = s"$work/inputs/$name"
  private val checkInputs = s"$inputs/check"
  private val curated = s"$work/out/curated"
  private val checkDir = s"$work/check/$name"
  private var nDocs = 0L
  def outputDirs: Seq[String] = Seq(curated)
  def sourceRows: Long = nDocs

  def prepare(): Seq[TableStat] = {
    deleteTree(inputs); deleteTree(s"$work/out"); deleteTree(checkDir)
    val st = writeTable(spark, DocGen.documents(spark, seed, sizes), s"$inputs/documents.parquet")
    val small = writeTable(spark, DocGen.documents(spark, seed, checkSizes),
      s"$checkInputs/documents.parquet")
    nDocs = st.rows
    Seq(st, small.copy(name = "check/documents"))
  }

  private def run(q: String, dir: String, t: Option[Tracer], sink: DataFrame => Digest): Digest = {
    val df = tracedSpan(t, s"build:$q")(SparkEntry.queries(q)(spark, dir))
    tracedSpan(t, s"exec:$q")(sink(df))
  }

  private def written(path: String)(df: DataFrame): Digest = {
    df.write.mode("overwrite").parquet(path)
    digest(spark.read.parquet(path))
  }

  def iteration(t: Option[Tracer]): Map[String, Digest] = CurationWorkload.queries.map { q =>
    q -> run(q, inputs, t, if (q == CurationWorkload.pipeline) written(curated) else digest)
  }.toMap

  /** Survivors per funnel stage of the full corpus, kept by [[checkRun]]. */
  private var funnel: Seq[Long] = Nil

  private def stages(df: DataFrame): Seq[Long] =
    df.orderBy("stage_idx").select("n_docs").collect().map(_.getLong(0)).toSeq

  /** The oracle-checked queries also run over the check corpus and keep
    * their results as parquet for the DuckDB compare. Over the full corpus
    * the curated output is written as in a timed iteration and the funnel's
    * stages are kept, so [[rowGate]] judges the outputs at scale too.
    */
  def checkRun(): Map[String, Digest] = {
    checks.foreach(c => run(c.name, checkInputs, None, written(c.sparkPath)))
    CurationWorkload.queries.map(q => q -> run(q, inputs, None, q match {
      case CurationWorkload.pipeline => written(curated)
      case "llm_curation_funnel" => df => { funnel = stages(df); digest(df) }
      case _ => digest
    })).toMap
  }

  /** Both corpora: the curated output keeps at least the corpus's floor
    * (every kept row within the token bounds), every funnel stage drops
    * documents (duplicates, near duplicates and out-of-bounds lengths are
    * all present), and the funnel starts from every document.
    */
  def rowGate(): Map[String, (Long, Long, Long)] = {
    def kept(path: String): (Long, Long) = {
      val r = spark.read.parquet(path)
        .agg(count(lit(1)), count(when(col("ws_tokens").between(5, 1000), 1))).head()
      (r.getLong(0), r.getLong(1))
    }
    def drops(f: Seq[Long]) = f.sliding(2).count(p => p.length == 2 && p(1) < p(0)).toLong
    val checkFunnel = stages(spark.read.parquet(s"$checkDir/llm_curation_funnel"))
    val (k, kIn) = kept(curated)
    val (ck, ckIn) = kept(s"$checkDir/${CurationWorkload.pipeline}")
    Map(CurationWorkload.pipeline -> (k, kIn, sizes.keptFloor),
      "llm_curation_funnel" -> (funnel.size.toLong, drops(funnel), 3L),
      "documents" -> (nDocs, funnel.headOption.getOrElse(0L), sizes.docs.toLong),
      s"check/${CurationWorkload.pipeline}" -> (ck, ckIn, checkSizes.keptFloor),
      "check/llm_curation_funnel" -> (checkFunnel.size.toLong, drops(checkFunnel), 3L))
  }

  def checks: Seq[Check] = Seq(CurationWorkload.pipeline, "llm_curation_funnel").map(q =>
    Check(q, SparkEntry.oracleSql(q), s"$checkDir/$q"))

  override def duckdbViews: Map[String, String] =
    Map("documents" -> s"$checkInputs/documents.parquet/*.parquet")

  def stepMetrics(t: Tracer): Map[String, Double] = {
    def ms(n: String) = t.spans.filter(_.name == n).map(_.ms).sum
    CurationWorkload.queries.flatMap(q =>
      Seq(s"step.$q.build_ms" -> ms(s"build:$q"), s"step.$q.exec_ms" -> ms(s"exec:$q"))).toMap
  }
}

object CurationWorkload {
  val pipeline = "llm_curation_pipeline"
  val queries: Seq[String] = Seq(pipeline, "llm_curation_funnel", "llm_pii_redact")
}
