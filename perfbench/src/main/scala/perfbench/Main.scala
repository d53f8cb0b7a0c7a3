package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, closed loop, one client, one JVM.
  *
  * Usage (normally through `perfbench/run.py`, which builds the classpath):
  * {{{
  *   perfbench.Main --workload npo_daily|llm_curation --seed N
  *     --seconds S --trace 0|1 --work DIR --project DIR --cores N
  *     [--sizes full|tiny] [--corrupt 0|1]
  * }}}
  * Set-up (JVM and session start, input generation, the first checked run,
  * which also warms the JIT) is timed as a whole. Timed iterations then run
  * until `--seconds` elapse.
  * With `--trace 1` a warm-up iteration is followed by pairs of a traced and
  * an untraced iteration, and the tracing overhead is the median
  * traced-minus-untraced time of a pair.
  * `--corrupt 1` rewrites one input column after the checked run, so every
  * timed iteration must be counted as failed (a self-test of the gate).
  * Results go to `<work>/result.json`, spans to `<work>/spans.jsonl`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, project: String, cores: Int, tiny: Boolean,
                        corrupt: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("project"), need("cores").toInt,
      kv.get("sizes").contains("tiny"), kv.get("corrupt").contains("1"))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.local.dir", s"${o.work}/tmp/spark-local")
      .config("spark.graft.checkpointDir", s"${o.work}/tmp/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(spark: SparkSession, o: Opts): Workload = o.workload match {
    case "npo_daily" => new NpoWorkload(spark, o.work, o.project, o.seed,
      if (o.tiny) NpoSizes.tiny else NpoSizes.full)
    case "llm_curation" => new CurationWorkload(spark, o.work, o.seed,
      if (o.tiny) DocSizes.tiny else DocSizes.full, if (o.tiny) DocSizes.tiny else DocSizes.check)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Figures of one timed iteration. */
  final case class Iter(runS: Double, cpuS: Double, writtenMb: Double, heapPeakMb: Double,
                        steps: Int, failed: Int, traced: Boolean, error: Option[String])

  /** Traced/untraced iteration pairs in a traced run, at least; an even
    * number, so each order within a pair occurs equally often.
    */
  val TracePairs = 2

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work, "tmp"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvm(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(o)
    val sessionS = sinceJvm()
    val code =
      try { run(spark, o, sinceJvm _, sessionS); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    // Exit explicitly: a lingering non-daemon thread must not keep the run alive.
    sys.exit(code)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(spark: SparkSession, o: Opts, sinceJvm: () => Double, sessionS: Double): Unit = {
    val wl = workload(spark, o)
    val log = (m: String) => System.err.println(f"[perfbench ${sinceJvm()}%7.1fs] $m")
    log(s"${o.workload}: seed ${o.seed}, local[${o.cores}], heap " +
      s"${Runtime.getRuntime.maxMemory >> 20} MB")

    val t0 = sinceJvm()
    val inputs = wl.prepare()
    val inputsS = sinceJvm() - t0
    inputs.foreach(t => log(f"input ${t.name}%-50s ${t.rows}%10d rows ${t.bytes / 1e6}%9.2f MB"))
    val t1 = sinceJvm()
    val checked = wl.checkRun()
    val gate = wl.rowGate()
    val checkS = sinceJvm() - t1
    gate.toSeq.sorted.foreach { case (m, (r, n, f)) => log(s"row gate $m: $r rows, $n measured, floor $f") }
    val setupS = sinceJvm()
    log(f"set-up $setupS%.1fs (session $sessionS%.1fs, inputs $inputsS%.1fs, " +
      f"checked run $checkS%.1fs)")

    if (o.corrupt) corruptInput(spark, o)

    val iters = scala.collection.mutable.ArrayBuffer.empty[Iter]
    val traced = scala.collection.mutable.ArrayBuffer.empty[(Tracer, Double)]
    def timed(tr: Option[Tracer]): Unit = {
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      val cpu0 = os.getProcessCpuTime
      val wall0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val res = try Right(wl.iteration(tr)) catch { case e: Exception => Left(e) }
      val runS = (System.nanoTime() - n0) / 1e9
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val writtenMb = wl.outputDirs.map(Workloads.dirBytes(_, wall0)).sum / 1e6
      val (steps, failed, err) = res match {
        case Right(d) =>
          val keys = checked.keySet ++ d.keySet
          (keys.size, keys.count(k => d.get(k) != checked.get(k)), None)
        case Left(e) => (checked.size, checked.size, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
      err.foreach(e => log(s"iteration failed: $e"))
      iters += Iter(runS, cpuS, writtenMb, heapMb, steps, failed, tr.isDefined, err)
      tr.foreach { t => t.finish(); traced += (t -> runS * 1e3) }
      log(f"iteration ${iters.size}: ${runS}%.3fs cpu ${cpuS}%.2fs written ${writtenMb}%.2f MB " +
        f"heap ${heapMb}%.0f MB failed $failed/$steps" + (if (tr.isDefined) " (traced)" else ""))
    }
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    if (!o.trace) while (iters.isEmpty || elapsed < o.seconds) timed(None)
    else {
      // One warm-up iteration, then pairs of a traced and an untraced
      // iteration with the traced one first in every other pair: the first
      // of two back-to-back iterations can run slower, so neither warm-up
      // nor the position within a pair biases the overhead.
      timed(None)
      var k = 0
      while (k < TracePairs || elapsed < o.seconds) {
        def tracer() = Some(new Tracer(spark, s"${o.workload}-${o.seed}-$k").start())
        if (k % 2 == 0) { timed(tracer()); timed(None) } else { timed(None); timed(tracer()) }
        k += 1
      }
    }

    val perLayer =
      if (!o.trace) Map.empty[String, Double]
      else {
        // Traced minus untraced time within each pair.
        val overheadMs = median(iters.toSeq.drop(1).grouped(2).map { p =>
          val (t, u) = p.partition(_.traced)
          (t.head.runS - u.head.runS) * 1e3
        }.toSeq)
        val each = traced.toSeq.map { case (t, wallMs) =>
          Layers.metrics(t, wl, wallMs, o.cores) ++ wl.stepMetrics(t)
        }
        Layers.all.map(n => n -> median(each.map(_.getOrElse(n, 0.0)))).toMap +
          ("trace.overhead_ms" -> overheadMs)
      }
    if (o.trace) {
      val lines = traced.toSeq.flatMap(_._1.spansJson)
      Files.write(Paths.get(o.work, "spans.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }

    val gateOk = gate.values.forall { case (r, n, f) => r >= f && n >= f }
    val result = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS, "checked_run_s" -> checkS,
        "total_s" -> setupS),
      "inputs" -> inputs.map(t => Map("name" -> t.name, "rows" -> t.rows, "bytes" -> t.bytes,
        "digest" -> s"${t.digest.rows}:${t.digest.hash}")),
      "row_gate" -> Map("ok" -> gateOk, "outputs" -> gate.toSeq.sorted.map { case (m, (r, n, f)) =>
        Map("output" -> m, "rows" -> r, "measured" -> n, "floor" -> f) }),
      "checks" -> wl.checks.map(c => Map("name" -> c.name, "sql" -> c.sql,
        "spark_path" -> c.sparkPath)),
      "duckdb_views" -> wl.duckdbViews,
      "iterations" -> iters.toSeq.map(i => Map("run_s" -> i.runS, "cpu_s" -> i.cpuS,
        "written_mb" -> i.writtenMb, "heap_peak_mb" -> i.heapPeakMb, "steps" -> i.steps,
        "failed" -> i.failed, "traced" -> i.traced, "error" -> i.error)),
      "per_layer" -> perLayer)
    Files.write(Paths.get(o.work, "result.json"), result.getBytes("UTF-8"))
    log("done")
  }

  /** Rewrite one input column of every row, so no later output can match. */
  private def corruptInput(spark: SparkSession, o: Opts): Unit = {
    import org.apache.spark.sql.functions._
    val (path, column, bad) = o.workload match {
      case "llm_curation" => (s"${o.work}/inputs/llm_curation/documents.parquet", "text",
        concat(col("text"), lit(" corrupted")))
      case w => (s"${o.work}/inputs/$w/src_media_events.parquet", "d_rm_playback_time",
        col("d_rm_playback_time") + 1)
    }
    val tmp = path + ".corrupt"
    spark.read.parquet(path).withColumn(column, bad).write.mode("overwrite").parquet(tmp)
    Workloads.deleteTree(path)
    Files.move(Paths.get(tmp), Paths.get(path))
  }
}

/** Per-layer metrics of one traced iteration. */
object Layers {
  private val fixed: Seq[String] = Seq(
    "frontend.load_ms", "frontend.models", "dagrunner.run_ms", "dagrunner.jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.queries", "build.ms", "build.jobs",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_sum_ms", "exec.task_max_ms",
    "exec.gc_ms", "exec.idle_ms", "exec.parallel_eff", "exec.failed_tasks",
    "scan.mb", "scan.rows", "scan.rows_per_input_row",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb", "shuffle.peak_exec_mem_mb",
    "write.ms", "write.mb", "write.rows", "write.files")

  /** Every per-layer metric name, across all workloads, in a stable order. */
  val all: Seq[String] = fixed ++ NpoWorkload.models.flatMap(m =>
    Seq(s"step.$m.ms", s"step.$m.jobs")) ++ CurationWorkload.queries.flatMap(q =>
    Seq(s"step.$q.build_ms", s"step.$q.exec_ms")) :+ "trace.overhead_ms"

  def metrics(t: Tracer, wl: Workload, wallMs: Double, cores: Int): Map[String, Double] = {
    val work = t.allWork
    def sum(f: Work => Long): Double = work.map(f).sum.toDouble
    val mb = 1e6
    val named = (n: String) => t.spans.filter(_.name == n)
    val prefixed = (p: String) => t.spans.filter(_.name.startsWith(p))
    val q = t.queries.toSeq
    val writes = q.filter(_.isWrite)
    val taskSum = sum(_.taskSumMs)
    Map(
      "frontend.load_ms" -> named("frontend.load").map(_.ms).sum,
      "dagrunner.run_ms" -> named("dagrunner.run").map(_.ms).sum,
      "dagrunner.jobs" -> named("dagrunner.run").flatMap(t.subtree).map(_.jobs).sum.toDouble,
      "catalyst.analysis_ms" -> q.map(_.analysisMs).sum.toDouble,
      "catalyst.optimization_ms" -> q.map(_.optimizationMs).sum.toDouble,
      "catalyst.planning_ms" -> q.map(_.planningMs).sum.toDouble,
      "catalyst.queries" -> q.size.toDouble,
      "build.ms" -> prefixed("build:").map(_.ms).sum,
      "build.jobs" -> prefixed("build:").flatMap(t.subtree).map(_.jobs).sum.toDouble,
      "exec.jobs" -> sum(_.jobs), "exec.stages" -> sum(_.stages), "exec.tasks" -> sum(_.tasks),
      "exec.task_sum_ms" -> taskSum,
      "exec.task_max_ms" -> work.map(_.taskMaxMs).foldLeft(0L)(math.max).toDouble,
      "exec.gc_ms" -> sum(_.gcMs),
      "exec.idle_ms" -> (wallMs - taskSum / cores),
      "exec.parallel_eff" -> taskSum / (wallMs * cores),
      "exec.failed_tasks" -> sum(_.failedTasks),
      "scan.mb" -> sum(_.scanBytes) / mb,
      "scan.rows" -> sum(_.scanRows),
      "scan.rows_per_input_row" -> sum(_.scanRows) / math.max(1L, wl.sourceRows),
      "shuffle.write_mb" -> sum(_.shuffleWrite) / mb,
      "shuffle.read_mb" -> sum(_.shuffleRead) / mb,
      "shuffle.spill_mb" -> sum(_.spill) / mb,
      "shuffle.peak_exec_mem_mb" -> work.map(_.peakExecMem).foldLeft(0L)(math.max) / mb,
      "write.ms" -> writes.map(_.durationMs).sum,
      "write.mb" -> writes.map(_.writeBytes).sum / mb,
      "write.rows" -> writes.map(_.writeRows).sum.toDouble,
      "write.files" -> writes.map(_.writeFiles).sum.toDouble)
  }
}
