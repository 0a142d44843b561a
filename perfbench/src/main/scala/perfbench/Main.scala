package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles, Paths}

/** What one workload run measured. `e2e` holds the end-to-end metrics
  * named in BENCHMARK.json; `readings` the workload's own end-to-end
  * figures under their usual names; `layers` the per-layer metrics of a
  * traced run; `rows` one entry per query execution or micro-batch. */
final case class Out(
    e2e: Map[String, Double],
    readings: Map[String, (Double, String)],
    layers: Map[String, (Double, String)],
    rows: Seq[Map[String, Any]],
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    extra: Map[String, Any] = Map.empty)

/** Command-line options of the harness; `run.py` supplies them. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, out: String, t0Ms: Double, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("data", ""), need("work"), need("out"), need("t0-ms").toDouble,
      m.getOrElse("cores", "2").toInt)
  }
}

/** Entry point of one benchmark run inside the JVM: set up, run the
  * workload, write what it measured as JSON to `--out`. */
object Main {
  val Workloads = Seq("board", "cdc")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val spark = Session.create(a.cores, s"${a.work}/spark-local")
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val t0Ns = System.nanoTime()
    val out =
      try a.workload match {
        case "board" => BoardRun.run(spark, a, tracer)
        case _ => CdcRun.run(spark, a, tracer)
      }
      finally spark.stop()
    val spans = if (a.trace) Tracer.rows(tracer.finish(), t0Ns) else Nil
    def named(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val doc = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "e2e" -> (out.e2e + ("rss_peak_mb" -> Host.rssPeakMb())),
      "readings" -> named(out.readings),
      "layers" -> named(out.layers),
      "rows" -> out.rows,
      "spans" -> spans,
      "attempted" -> out.attempted, "failed" -> out.failed, "errors" -> out.errors) ++ out.extra
    NioFiles.write(Paths.get(a.out), Json.write(doc).getBytes(StandardCharsets.UTF_8))
  }

  /** Per-layer metrics of Spark work `w` spread over `units` passes or
    * batches; `wallS` is the wall time the work ran in, for parallelism. */
  def execLayers(w: Work, units: Double, wallS: Double, cores: Int): Map[String, (Double, String)] = {
    val mb = 1048576.0
    val taskS = w.taskNs / 1e9
    Map(
      "exec.jobs" -> (w.jobs / units, "count"),
      "exec.stages" -> (w.stages / units, "count"),
      "exec.stages_skipped" -> (w.stagesSkipped / units, "count"),
      "exec.tasks" -> (w.tasks / units, "count"),
      "exec.task_s" -> (taskS / units, "s"),
      "exec.gc_s" -> (w.gcMs / 1000.0 / units, "s"),
      "exec.parallelism" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0, "ratio"),
      "exec.shuffle_read_mb" -> (w.shuffleReadBytes / mb / units, "MB"),
      "exec.shuffle_write_mb" -> (w.shuffleWriteBytes / mb / units, "MB"),
      "exec.spill_mb" -> (w.spillBytes / mb / units, "MB"),
      "exec.input_mb" -> (w.inputBytes / mb / units, "MB"))
  }

  /** Layers a workload does not run, reported as the zero work they did:
    * the board runs no streaming layer, the CDC workloads no board query
    * plan and no materialized intermediate, and each CDC workload only one
    * of the two view-maintenance layers. */
  def notRun(names: (String, String)*): Map[String, (Double, String)] =
    names.map { case (n, u) => n -> (0.0, u) }.toMap

  val StreamingLayers: Seq[(String, String)] = Seq(
    "cdc.decode.yield" -> "ratio") ++ MergeLayers ++ StateLayers
  lazy val MergeLayers: Seq[(String, String)] = Seq(
    "streaming.merge.jobs_per_batch" -> "count", "streaming.merge.shuffle_mb" -> "MB",
    "streaming.viewstore.bytes_written_mb" -> "MB", "streaming.viewstore.write_amp" -> "ratio",
    "streaming.viewstore.files_written" -> "count", "streaming.viewstore.buckets_touched_p50" -> "count",
    "streaming.viewstore.live_files_end" -> "count")
  lazy val StateLayers: Seq[(String, String)] = Seq(
    "streaming.state.rows_total_end" -> "count", "streaming.state.memory_mb_end" -> "MB",
    "streaming.state.rocksdb_sst_mb_end" -> "MB")
  val BoardLayers: Seq[(String, String)] = Seq(
    "plan.exchanges" -> "count", "plan.sort_merge_joins" -> "count",
    "plan.broadcast_joins" -> "count", "plan.rdd_scans" -> "count",
    "plan.in_memory_scans" -> "count", "ops.materialize.stored_mb_peak" -> "MB")

  /** Row fields for the Spark work of one query or batch. */
  def workRow(w: Work): Map[String, Any] = Map(
    "jobs" -> w.jobs, "stages" -> w.stages, "stages_skipped" -> w.stagesSkipped,
    "tasks" -> w.tasks, "task_s" -> w.taskNs / 1e9, "gc_s" -> w.gcMs / 1000.0,
    "shuffle_read_mb" -> w.shuffleReadBytes / 1048576.0,
    "shuffle_write_mb" -> w.shuffleWriteBytes / 1048576.0,
    "spill_mb" -> w.spillBytes / 1048576.0, "input_mb" -> w.inputBytes / 1048576.0)

  /** Seconds since the run began (before input generation and JVM start). */
  def sinceStart(a: Args): Double = (OpenLoop.nowMs() - a.t0Ms) / 1000.0
}
