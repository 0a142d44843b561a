package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.cdc.{CdcDecode, CdcEvent, ReferenceFold, TransactionView}
import graft.streaming.{CdcStream, ViewStore}

/** The two paths of the `cdc` workload: the same generator, wire and decoder
  * in front of the two ways the engine maintains the `transactions-view`.
  *
  *  - view path: MemoryStream → `foreachBatch`(`CdcDecode.fromMongoChangeStream`
  *    → `CdcStream.mergeBatchIntoParquet` → `ViewStore`), no state store.
  *  - state path: MemoryStream → `CdcDecode.fromMongoChangeStream` →
  *    `CdcStream.viewUpdates` (flatMapGroupsWithState on RocksDB with
  *    changelog checkpointing) → a sink that keeps every emitted view with
  *    its batch id. No ViewStore I/O.
  *
  * A path has three phases: closed-loop warm batches (set-up), the open
  * loop at a fixed offered rate (freshness), and a closed-loop drain of
  * fixed-size chunks (capacity).
  */
object Cdc {

  /** Phase sizes of one workload. `ratePerS` is the open loop's offered
    * rate; its first `leadInS` seconds are set-up, so that measured events
    * meet micro-batches already sized by that rate. Warm and drain chunks
    * go through one at a time. */
  final case class Plan(ratePerS: Double, leadInS: Double, warmChunks: Int, warmChunk: Int,
      drainChunks: Int, drainChunk: Int)

  val ViewPlan = Plan(ratePerS = 1000, leadInS = 2, warmChunks = 2, warmChunk = 500,
    drainChunks = 3, drainChunk = 8000)
  // the state path runs after the view path, in a JVM whose decode is warm
  val StatePlan = Plan(ratePerS = 2000, leadInS = 2, warmChunks = 3, warmChunk = 500,
    drainChunks = 5, drainChunk = 8000)

  val RocksProvider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Progress of one micro-batch that read data. */
  final case class Batch(id: Long, startOffset: Long, endOffset: Long, startMs: Double,
      durations: Map[String, Long], rows: Long, state: Option[Map[String, Double]],
      observed: Map[String, Long]) {
    def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  /** Collects every data-bearing micro-batch's progress. */
  final class ProgressLog extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[Long, Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) batches.put(p.batchId, batch(p))
    }
    private def offset(s: String): Long = Option(s).map(_.trim).filter(_.nonEmpty)
      .map(_.toLong).getOrElse(-1L)
    private def batch(p: StreamingQueryProgress): Batch = {
      val src = p.sources.head
      val state = p.stateOperators.headOption.map { s =>
        Map("rows_total" -> s.numRowsTotal.toDouble, "memory_bytes" -> s.memoryUsedBytes.toDouble,
          "updates_ms" -> s.allUpdatesTimeMs.toDouble, "commit_ms" -> s.commitTimeMs.toDouble) ++
          s.customMetrics.asScala.map { case (k, v) => k -> v.doubleValue }
      }
      val observed = p.observedMetrics.asScala.map { case (k, r) => k -> r.getLong(0) }.toMap
      Batch(p.batchId, offset(src.startOffset), offset(src.endOffset),
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, state, observed)
    }
    def all: Vector[Batch] = batches.values.asScala.toVector.sortBy(_.id)
  }

  /** The change stream as a source of [[SourcePartitions]] partitions,
    * like a topic of that many partitions: however many sends a
    * micro-batch spans, it reads that many input splits. */
  val SourcePartitions = 4

  private def source(spark: SparkSession): MemoryStream[String] =
    MemoryStream[String](spark, SourcePartitions)(org.apache.spark.sql.Encoders.STRING)

  /** A started pipeline: where to send records, how to wait for them. */
  trait Pipeline {
    def send(records: Seq[String]): Long
    def query: StreamingQuery
    /** The final view, by transaction id. */
    def finalView(): Map[String, TransactionView]
  }

  /** Per-batch extras of the view path in a traced run: the generation the
    * batch wrote to the ViewStore, and the rows in and out of decode. */
  final case class ViewBatch(files: Int, bytes: Long, buckets: Int, decodeIn: Long, decodeOut: Long)

  def viewPipeline(spark: SparkSession, work: String, tracer: Tracer,
      viewBatches: mutable.Map[Long, ViewBatch]): Pipeline = {
    import spark.implicits._
    val viewPath = s"$work/view"
    val ms = source(spark)
    val merge: (DataFrame, Long) => Unit = { (raw, batchId) =>
      val req = s"batch/$batchId"
      tracer.span("cdc.batch", req) {
        val in = if (tracer.enabled) Some(Observation(s"in$batchId")) else None
        val out = if (tracer.enabled) Some(Observation(s"out$batchId")) else None
        val observedRaw = in.fold(raw)(o => raw.observe(o, count(lit(1)).as("n")))
        val decoded = tracer.span("CdcDecode.fromMongoChangeStream", req) {
          val d = CdcDecode.fromMongoChangeStream(observedRaw, "value")
          out.fold(d)(o => d.observe(o, count(lit(1)).as("n")))
        }
        tracer.span("CdcStream.mergeBatchIntoParquet", req)(
          CdcStream.mergeBatchIntoParquet(spark, decoded, viewPath, batchId))
        if (tracer.enabled) {
          val gen = new File(s"$viewPath/gen-$batchId")
          val parts = FileTree.under(gen).filter(_.getName.startsWith("part-"))
          val counts = Seq(in, out).flatten.map { o =>
            scala.util.Try(scala.concurrent.Await.result(o.future,
              scala.concurrent.duration.Duration(5, "s")).getLong(0)).getOrElse(0L)
          }
          viewBatches.synchronized {
            viewBatches(batchId) = ViewBatch(parts.size, parts.map(_.length).sum,
              Option(gen.listFiles).map(_.count(_.getName.startsWith("__bucket="))).getOrElse(0),
              counts.head, counts(1))
          }
        }
      }
    }
    val q = ms.toDF().writeStream
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch(merge)
      .start()
    new Pipeline {
      def send(records: Seq[String]): Long = ms.addData(records).asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
      def query: StreamingQuery = q
      def finalView(): Map[String, TransactionView] =
        ViewStore.read(spark, viewPath).map(_.as[TransactionView].collect().toSeq)
          .getOrElse(Nil).map(v => v.transactionId -> v).toMap
    }
  }

  def statePipeline(spark: SparkSession, work: String, tracer: Tracer): Pipeline = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksProvider)
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val ms = source(spark)
    val emitted = new ConcurrentHashMap[Long, Array[TransactionView]]()
    val raw = ms.toDF()
    val views = tracer.span("cdc.build", "build") {
      val observedRaw = if (tracer.enabled) raw.observe("decode_in", count(lit(1)).as("n")) else raw
      val decoded = tracer.span("CdcDecode.fromMongoChangeStream", "build") {
        val d = CdcDecode.fromMongoChangeStream(observedRaw, "value")
        if (tracer.enabled) d.observe("decode_out", count(lit(1)).as("n")) else d
      }
      tracer.span("CdcStream.viewUpdates", "build")(CdcStream.viewUpdates(decoded))
    }
    val sink: (Dataset[TransactionView], Long) => Unit = (ds, batchId) => emitted.put(batchId, ds.collect())
    val q = views.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch(sink)
      .start()
    new Pipeline {
      def send(records: Seq[String]): Long = ms.addData(records).asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
      def query: StreamingQuery = q
      def finalView(): Map[String, TransactionView] =
        emitted.asScala.toSeq.sortBy(_._1).flatMap(_._2).map(v => v.transactionId -> v).toMap
    }
  }

  /** The oracle: `ReferenceFold.replay` of every delivered event, deduped by
    * id and in (event time, id) order. */
  def expected(delivered: Seq[CdcEvent]): Map[String, TransactionView] =
    ReferenceFold.replay(delivered.distinctBy(_.id).sortBy(e => (e.tsMs, e.id)))

  /** Keys whose view differs from the oracle, missing or extra ones too. */
  def mismatches(got: Map[String, TransactionView], want: Map[String, TransactionView]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
}

/** Small file-system helpers. */
object FileTree {
  def under(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(under) else if (f.exists) Seq(f) else Nil
}
