package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The `board` workload: a closed loop of one client running batch queries
  * of `SparkEntry.queries` to their full result.
  *
  * Each query's timing covers build (the call into `SparkEntry.queries`,
  * which runs the eager checkpoint jobs some queries make), planning
  * (`queryExecution.executedPlan`) and execution (the whole result into the
  * `noop` sink), so Catalyst cannot drop work the way a `count()` lets it.
  * One pass runs every query once, in an order drawn from the seed.
  */
object Board {

  /** Three families, each chosen for the layer it loads hardest. */
  val Families: Seq[(String, Seq[String])] = Seq(
    // small relational queries: fixed per-query overhead
    "cdc" -> Seq("q01_filter_project", "q04_dedup_redelivery", "q09_transactions_view"),
    // per-row text kernels: tokenize, shingle, winnow
    "text" -> Seq("q12_lang_id", "q211_winnow_pairs"),
    // shuffles and materialized intermediates: eager checkpoints in build,
    // a pinned core released at the end of each pass
    "graph" -> Seq("q196_degree_assortativity"))

  val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  val queries: Seq[String] = Families.flatMap(_._2)

  /** One query execution of a measured pass. */
  final case class Exec(
      pass: Int, query: String, buildS: Double, planS: Double, execS: Double,
      releaseS: Double, plan: Map[String, Any], storedMb: Double) {
    def seconds: Double = buildS + planS + execS
  }

  /** Node counts of the physical plan Catalyst chose, before adaptive
    * re-planning, plus a hash of its operator sequence. */
  def fingerprint(executed: SparkPlan): Map[String, Any] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins._
    val root = executed match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val nodes = root.collectWithSubqueries { case p => p }
    def count(f: SparkPlan => Boolean): Int = nodes.count(f)
    Map(
      "exchanges" -> count(_.isInstanceOf[ShuffleExchangeExec]),
      "broadcast_exchanges" -> count(_.isInstanceOf[BroadcastExchangeExec]),
      "sort_merge_joins" -> count(_.isInstanceOf[SortMergeJoinExec]),
      "broadcast_joins" -> count(p => p.isInstanceOf[BroadcastHashJoinExec] ||
        p.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "shuffled_hash_joins" -> count(_.isInstanceOf[ShuffledHashJoinExec]),
      "file_scans" -> count(_.isInstanceOf[FileSourceScanExec]),
      "rdd_scans" -> count(p => p.isInstanceOf[RDDScanExec] || p.isInstanceOf[ExternalRDDScanExec[_]]),
      "in_memory_scans" -> count(_.isInstanceOf[InMemoryTableScanExec]),
      "nodes" -> nodes.size,
      "shape" -> Integer.toHexString(nodes.map(_.nodeName).mkString(",").hashCode))
  }

  private def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  /** Write every query's full result as parquet for the oracle check
    * (outside any timed window); returns the queries that failed. */
  def dumpResults(spark: SparkSession, dataDir: String, outDir: String,
      tracer: Tracer): Seq[(String, String)] = {
    val failed = queries.flatMap { q =>
      try {
        tracer.span("board.dump", s"board/dump/$q") {
          graft.SparkEntry.queries(q)(spark, dataDir)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        }
        None
      } catch { case t: Throwable => Some(q -> s"${t.getClass.getSimpleName}: ${t.getMessage}") }
      finally graft.ops.Dedup.unpersistIntermediates(spark)
    }
    graft.ops.Dedup.unpersistPinned(spark)
    failed
  }

  /** One pass over the board in a seeded order; failures are returned by
    * query name, successes as timed executions. */
  def pass(spark: SparkSession, dataDir: String, seed: Long, passNo: Int,
      tracer: Tracer): (Seq[Exec], Seq[(String, String)]) = {
    val order = new Random(seed * 7919L + passNo).shuffle(queries)
    val results = order.map { q =>
      val req = s"board/p$passNo/$q"
      try {
        var df: DataFrame = null
        var executed: SparkPlan = null
        val (buildS, planS, execS) = tracer.span("board.query", req) {
          val t0 = System.nanoTime()
          df = tracer.span("SparkEntry.queries", req)(graft.SparkEntry.queries(q)(spark, dataDir))
          val t1 = System.nanoTime()
          executed = tracer.span("queryExecution.executedPlan", req)(df.queryExecution.executedPlan)
          val t2 = System.nanoTime()
          tracer.span("noop.write", req)(df.write.format("noop").mode("overwrite").save())
          val t3 = System.nanoTime()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        }
        val stored = if (tracer.enabled) storedMb(spark) else 0.0
        val r0 = System.nanoTime()
        tracer.span("Dedup.unpersistIntermediates", req)(graft.ops.Dedup.unpersistIntermediates(spark))
        val releaseS = (System.nanoTime() - r0) / 1e9
        val plan = if (tracer.enabled) fingerprint(executed) else Map.empty[String, Any]
        Right(Exec(passNo, q, buildS, planS, execS, releaseS, plan, stored))
      } catch {
        case t: Throwable =>
          graft.ops.Dedup.unpersistIntermediates(spark)
          Left(q -> s"${t.getClass.getSimpleName}: ${t.getMessage}")
      }
    }
    tracer.span("Dedup.unpersistPinned", s"board/p$passNo")(graft.ops.Dedup.unpersistPinned(spark))
    (results.collect { case Right(e) => e }, results.collect { case Left(f) => f })
  }
}
