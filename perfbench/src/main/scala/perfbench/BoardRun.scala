package perfbench

import java.io.{File, FileInputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs the `board` workload: set-up (pre-touch, a first pass that writes
  * every full result for the oracle and pays the JIT and code generation
  * warm-up, then [[WarmPasses]] untimed passes as measured ones run), then
  * measured passes until `--seconds` have passed, at least [[MinPasses]] of
  * them. */
object BoardRun {

  val MinPasses = 2
  val WarmPasses = 3

  private def pretouch(dir: String): Unit =
    FileTree.under(new File(dir)).foreach { f =>
      val in = new FileInputStream(f)
      try { val buf = new Array[Byte](1 << 20); while (in.read(buf) >= 0) () } finally in.close()
    }

  def run(spark: SparkSession, a: Args, tracer: Tracer): Out = {
    pretouch(a.data)
    val resultsDir = s"${a.work}/results"
    val dumpFailed = Board.dumpResults(spark, a.data, resultsDir, tracer)
    val warm = (1 to WarmPasses).map(w => Board.pass(spark, a.data, a.seed, -w, tracer))
    val setupS = Main.sinceStart(a)

    val window = Host.Window.start()
    val m0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[Board.Exec])]
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    failures ++= warm.flatMap(_._2)
    while (passes.size < MinPasses || (System.nanoTime() - m0) / 1e9 < a.seconds) {
      val t = System.nanoTime()
      val (execs, failed) = Board.pass(spark, a.data, a.seed, passes.size + 1, tracer)
      passes += (((System.nanoTime() - t) / 1e9, execs))
      failures ++= failed
    }
    val hostLayers = window.layers()

    val execs = passes.flatMap(_._2).toSeq
    val n = passes.size.toDouble
    val perQuery = execs.groupBy(_.query).map { case (q, es) => q -> Stats.median(es.map(_.seconds)) }
    val passS = Stats.median(passes.map(_._1).toSeq)
    val readings = Map(
      "pass_s" -> (passS, "s"),
      "query_geomean_s" -> (Stats.geomean(perQuery.values.toSeq), "s"),
      "queries_per_s" -> (execs.size / passes.map(_._1).sum, "1/s"),
      "passes" -> (n, "count"),
      "pass_first_s" -> (passes.head._1, "s"),
      "pass_last_s" -> (passes.last._1, "s")) ++
      Board.Families.map { case (f, _) =>
        s"family.${f}_s" -> (execs.filter(e => Board.familyOf(e.query) == f).map(_.seconds).sum / n, "s")
      }
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_s" -> readings("query_geomean_s")._1,
      "latency_tail_s" -> passS,
      "throughput_per_s" -> readings("queries_per_s")._1)

    val (layers, rows) = if (!a.trace) (Map.empty[String, (Double, String)], Nil) else {
      val spans = tracer.finish()
      val byReq = spans.groupBy(_.request)
      def named(req: String, name: String) = byReq.getOrElse(req, Nil).filter(_.name == name)
      def reqOf(e: Board.Exec) = s"board/p${e.pass}/${e.query}"
      val queryWork = execs.map(e => e -> tracer.treeWork(spans, named(reqOf(e), "board.query").map(_.id))).toMap
      val releaseSpans = execs.flatMap(e => named(reqOf(e), "Dedup.unpersistIntermediates")) ++
        (1 to passes.size).flatMap(p => named(s"board/p$p", "Dedup.unpersistPinned"))
      val buildJobs = execs.flatMap(e => named(reqOf(e), "SparkEntry.queries"))
        .map(s => tracer.selfWork(s.id).jobs).sum
      val total = new Work
      queryWork.values.foreach(total.add)
      releaseSpans.foreach(s => total.add(tracer.selfWork(s.id)))
      val firstPass = execs.filter(_.pass == 1)
      def planSum(k: String) = firstPass.map(_.plan.getOrElse(k, 0).asInstanceOf[Int]).sum.toDouble
      val layers = Map(
        "queries.build_s" -> (execs.map(_.buildS).sum / n, "s"),
        "queries.build_jobs" -> (buildJobs / n, "count"),
        "catalyst.plan_s" -> (execs.map(_.planS).sum / n, "s"),
        "exec.exec_s" -> (execs.map(_.execS).sum / n, "s"),
        "plan.exchanges" -> (planSum("exchanges"), "count"),
        "plan.sort_merge_joins" -> (planSum("sort_merge_joins"), "count"),
        "plan.broadcast_joins" -> (planSum("broadcast_joins"), "count"),
        "plan.rdd_scans" -> (planSum("rdd_scans"), "count"),
        "plan.in_memory_scans" -> (planSum("in_memory_scans"), "count"),
        "ops.materialize.release_s" -> (releaseSpans.map(_.seconds).sum / n, "s"),
        "ops.materialize.stored_mb_peak" -> (execs.map(_.storedMb).max, "MB")) ++
        Main.execLayers(total, n, execs.map(_.seconds).sum, a.cores) ++
        readings.collect { case (k, v) if k.startsWith("family.") => k -> v } ++ hostLayers ++
        Main.notRun(Main.StreamingLayers: _*)
      val rows = execs.map { e =>
        Map("pass" -> e.pass, "query" -> e.query, "family" -> Board.familyOf(e.query),
          "seconds" -> e.seconds, "build_s" -> e.buildS, "plan_s" -> e.planS, "exec_s" -> e.execS,
          "release_s" -> e.releaseS, "stored_mb" -> e.storedMb,
          "build_jobs" -> named(reqOf(e), "SparkEntry.queries").map(s => tracer.selfWork(s.id).jobs).sum,
          "plan" -> e.plan) ++ Main.workRow(queryWork(e))
      }
      (layers, rows)
    }

    val errors = (dumpFailed ++ failures).map { case (q, m) => s"$q: $m" }
    Out(e2e, readings, layers, rows,
      attempted = Board.queries.size.toLong + warm.map(_._1.size).sum + execs.size + failures.size,
      failed = errors.size.toLong, errors = errors.toSeq,
      extra = Map("oracle" -> Map(
        "results" -> resultsDir,
        "sql" -> Board.queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)))
  }
}

/** Writes the board's oracle SQL, by query, as JSON to the file named by
  * the only argument; `run.py --make-oracle` runs it in DuckDB. */
object BoardSql {
  def main(args: Array[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)), Json.write(
      Board.queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
