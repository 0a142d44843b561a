package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cdc.CdcEvent
import graft.streaming.ViewStore

/** Runs the `cdc` workload: the view path, then the state path, in one JVM.
  * Each path has its own pipeline, checkpoint and work directory, and runs
  * warm batches, the open loop of `--seconds`, the drain, then the oracle
  * check of its final view. */
object CdcRun {

  /** The paths' end-to-end figures combine as a geometric mean, the way the
    * board combines its queries; each path's own figures are readings and
    * layers under `view.` and `state.`. Layers one path owns (merge and
    * ViewStore, state store) keep their plain names; layers both run keep
    * the view path's figures under their plain names. */
  def run(spark: SparkSession, a: Args, tracer: Tracer): Out = {
    val t0 = OpenLoop.nowMs()
    val view = path(spark, a.copy(work = s"${a.work}/view-path"), tracer, state = false, a.t0Ms)
    val t1 = OpenLoop.nowMs()
    val st = path(spark, a.copy(work = s"${a.work}/state-path"), tracer, state = true, t1)
    def both(k: String) = Stats.geomean(Seq(view.e2e(k), st.e2e(k)))
    def prefixed(p: String, m: Map[String, (Double, String)]) = m.map { case (k, v) => s"$p.$k" -> v }
    val stateOwned = st.layers.filter(_._1.startsWith("streaming.state."))
    Out(
      e2e = Map("setup_s" -> (view.e2e("setup_s") + st.e2e("setup_s"))) ++
        Seq("latency_s", "latency_tail_s", "throughput_per_s").map(k => k -> both(k)),
      readings = prefixed("view", view.readings) ++ prefixed("state", st.readings) +
        ("view_path_s" -> ((t1 - t0) / 1000.0, "s")),
      layers = view.layers ++ stateOwned ++ prefixed("view", view.layers) ++ prefixed("state", st.layers),
      rows = view.rows.map(_ + ("path" -> "view")) ++ st.rows.map(_ + ("path" -> "state")),
      attempted = view.attempted + st.attempted,
      failed = view.failed + st.failed,
      errors = view.errors.map("view: " + _) ++ st.errors.map("state: " + _),
      extra = Map("view" -> view.extra, "state" -> st.extra))
  }

  /** One path; its set-up is timed from `startMs`. */
  private def path(spark: SparkSession, a: Args, tracer: Tracer, state: Boolean, startMs: Double): Out = {
    val plan = if (state) Cdc.StatePlan else Cdc.ViewPlan
    val log = new Cdc.ProgressLog
    spark.streams.addListener(log)
    val openN = (plan.ratePerS * (plan.leadInS + a.seconds)).toInt
    val warmN = plan.warmChunks * plan.warmChunk
    val drainN = plan.drainChunks * plan.drainChunk
    val evs = CdcWire.events(a.seed, warmN + openN + drainN)
    val (warmEv, rest) = evs.splitAt(warmN)
    val (openEv, drainEv) = rest.splitAt(openN)
    def closedChunks(es: Seq[CdcEvent], size: Int, phase: Long) =
      es.grouped(size).toVector.zipWithIndex.map { case (c, i) =>
        CdcWire.records(c, plan.ratePerS, a.seed * 1000 + phase * 100 + i, (phase * 100 + i) << 24).flatten
      }
    val warm = closedChunks(warmEv, plan.warmChunk, 1)
    val openTicks = CdcWire.records(openEv, plan.ratePerS, a.seed * 1000 + 200, 2L << 32)
    val drain = closedChunks(drainEv, plan.drainChunk, 3)

    val viewBatches = mutable.Map.empty[Long, Cdc.ViewBatch]
    val p =
      if (state) Cdc.statePipeline(spark, a.work, tracer)
      else Cdc.viewPipeline(spark, a.work, tracer, viewBatches)
    val sentOffsets = mutable.ArrayBuffer.empty[(Long, Vector[CdcWire.Record])]
    def sendAll(recs: Vector[CdcWire.Record]): Long = {
      val off = p.send(recs.map(_.json))
      sentOffsets += ((off, recs))
      off
    }

    warm.foreach { c => sendAll(c); p.query.processAllAvailable() }
    // one open loop; its lead-in ticks are set-up, the rest is measured
    val leadTicks = (plan.leadInS * 1000 / CdcWire.TickMs).toInt
    val openStart = OpenLoop.nowMs() + CdcWire.TickMs
    OpenLoop.run(openTicks.take(leadTicks), openStart, sendAll)
    val setupS = (OpenLoop.nowMs() - startMs) / 1000.0
    val window = Host.Window.start()
    val measuredStart = openStart + leadTicks * CdcWire.TickMs
    val sent = OpenLoop.run(openTicks.drop(leadTicks), measuredStart, sendAll)
    p.query.processAllAvailable()
    val hostLayers = window.layers()

    val drainTimes = drain.map { c =>
      val t = System.nanoTime()
      sendAll(c)
      p.query.processAllAvailable()
      (System.nanoTime() - t) / 1e9
    }
    org.apache.spark.perfbench.SparkBusAccess.drain(spark.sparkContext)
    val view = p.finalView()
    val liveFiles = if (state || !a.trace) Nil else liveDataFiles(spark, s"${a.work}/view")
    p.query.stop()
    spark.streams.removeListener(log)

    // freshness and backlog of the open loop
    val batches = log.all
    val recordsAt = sentOffsets.map { case (o, r) => o -> r.size }.toMap
    def recordsIn(b: Cdc.Batch): Int = ((b.startOffset + 1) to b.endOffset).map(recordsAt.getOrElse(_, 0)).sum
    val commits = batches.map(b => OpenLoop.Commit(b.endOffset, b.endMs))
    val (fresh, _) = OpenLoop.freshness(sent, commits, openStart)
    val worst = OpenLoop.worstPerCommit(sent, commits, openStart)
    val openFirst = sent.head.offset
    val openLast = sent.last.offset
    val openBatches = batches.filter(b => b.endOffset >= openFirst && b.startOffset < openLast)
    val eventsAt = sent.map(s => (s.offset, s.sentMs, s.records.count(_.kind == CdcWire.Event)))
    val lastSentMs = sent.last.sentMs
    val backlog = openBatches.filter(_.endMs <= lastSentMs).map { b =>
      eventsAt.filter(_._2 <= b.endMs).map(_._3).sum - eventsAt.filter(_._1 <= b.endOffset).map(_._3).sum
    }
    val sentEvents = eventsAt.map(_._3).sum
    val lastCommitMs = OpenLoop.commitOf(commits.sortBy(_.endOffset), sent.last.offset)
      .map(_.endMs).getOrElse(measuredStart)

    // oracle: every delivered event, deduped, folded in event-time order
    val delivered = sentOffsets.flatMap(_._2.flatMap(_.event)).toSeq
    val maxCommitted = batches.map(_.endOffset).maxOption.getOrElse(-1L)
    val uncommitted = sentOffsets.filter(_._1 > maxCommitted)
      .map(_._2.count(_.kind == CdcWire.Event)).sum
    val foldT = System.nanoTime()
    val want = Cdc.expected(delivered)
    val foldS = (System.nanoTime() - foldT) / 1e9
    val bad = Cdc.mismatches(view, want)

    val freshTail = Stats.tail(fresh)
    val readings = Map(
      "freshness_p50_s" -> (Stats.median(fresh), "s"),
      "freshness_p99_s" -> (Stats.percentile(fresh, 99.0), "s"),
      "freshness_tail_pct" -> (freshTail.map(_._1).getOrElse(0.0), "pct"),
      "freshness_tail_s" -> (freshTail.map(_._2).getOrElse(0.0), "s"),
      "freshness_samples" -> (fresh.size.toDouble, "count"),
      "freshness_worst_p50_s" -> (Stats.median(worst), "s"),
      "freshness_worst_commits" -> (worst.size.toDouble, "count"),
      "committed_eps" -> (sentEvents / ((lastCommitMs - measuredStart) / 1000.0), "1/s"),
      "offered_eps" -> (plan.ratePerS, "1/s"),
      "drain_eps" -> (plan.drainChunk / Stats.median(drainTimes), "1/s"),
      "drain_chunk_events" -> (plan.drainChunk.toDouble, "count"),
      "backlog_first_third" -> (third(backlog, 0), "count"),
      "backlog_last_third" -> (third(backlog, 2), "count"))
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_s" -> readings("freshness_p50_s")._1,
      "latency_tail_s" -> readings("freshness_worst_p50_s")._1,
      "throughput_per_s" -> readings("drain_eps")._1)

    val (layers, rows) = if (!a.trace) (Map.empty[String, (Double, String)], Nil) else {
      val spans = tracer.finish()
      val byReq = spans.groupBy(_.request)
      // batch spans are the view path's: the state path's batch ids restart
      // at 0 and its work is found by batch id instead
      def spansOf(b: Long, name: String) =
        if (state) Nil else byReq.getOrElse(s"batch/$b", Nil).filter(_.name == name)
      def work(b: Long): Work =
        if (state) tracer.batchWork(b) else tracer.treeWork(spans, spansOf(b, "cdc.batch").map(_.id))
      def dur(b: Cdc.Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
      def p50(f: Cdc.Batch => Double) = if (openBatches.isEmpty) 0.0 else Stats.median(openBatches.map(f))
      val nb = math.max(openBatches.size, 1).toDouble
      val openWork = new Work
      openBatches.foreach(b => openWork.add(work(b.id)))
      val decode: Cdc.Batch => (Long, Long) =
        if (state) b => (b.observed.getOrElse("decode_in", 0L), b.observed.getOrElse("decode_out", 0L))
        else b => viewBatches.get(b.id).map(v => (v.decodeIn, v.decodeOut)).getOrElse((0L, 0L))
      val decIn = openBatches.map(decode(_)._1).sum
      val decOut = openBatches.map(decode(_)._2).sum
      val mergeMs = openBatches.flatMap(b => spansOf(b.id, "CdcStream.mergeBatchIntoParquet")).map(_.seconds * 1000)
      val mergeWork = new Work
      openBatches.foreach(b => mergeWork.add(tracer.workOf(spansOf(b.id, "CdcStream.mergeBatchIntoParquet").map(_.id))))
      val written = viewBatches.values
      val liveBytes = liveFiles.map(_.length).sum
      val lastState = batches.flatMap(_.state).lastOption.getOrElse(Map.empty)
      def st(b: Cdc.Batch, k: String) = b.state.flatMap(_.get(k)).getOrElse(0.0)
      val buildS = spans.filter(s => (s.name == "CdcDecode.fromMongoChangeStream" || s.name == "CdcStream.viewUpdates") &&
        (s.request == "build") == state)
      val lateness = OpenLoop.lateness(sent)
      val layers = Map(
        "queries.build_s" -> ((if (state) buildS.map(_.seconds).sum
          else openBatches.flatMap(b => spansOf(b.id, "CdcDecode.fromMongoChangeStream")).map(_.seconds).sum / nb), "s"),
        "catalyst.plan_s" -> (openBatches.map(dur(_, "queryPlanning")).sum / 1000 / nb, "s"),
        "exec.exec_s" -> (openBatches.map(dur(_, "addBatch")).sum / 1000 / nb, "s"),
        "engine.batches" -> (openBatches.size.toDouble, "count"),
        "engine.trigger_ms_p50" -> (p50(dur(_, "triggerExecution")), "ms"),
        "engine.latest_offset_ms_p50" -> (p50(dur(_, "latestOffset")), "ms"),
        "engine.planning_ms_p50" -> (p50(dur(_, "queryPlanning")), "ms"),
        "engine.add_batch_ms_p50" -> (p50(dur(_, "addBatch")), "ms"),
        "engine.wal_commit_ms_p50" -> (p50(dur(_, "walCommit")), "ms"),
        "engine.commit_offsets_ms_p50" -> (p50(dur(_, "commitOffsets")), "ms"),
        "engine.rows_per_batch_p50" -> (p50(recordsIn(_).toDouble), "count"),
        "cdc.decode.in_rows" -> (decIn.toDouble, "count"),
        "cdc.decode.out_rows" -> (decOut.toDouble, "count"),
        "cdc.decode.yield" -> (if (decIn > 0) decOut.toDouble / decIn else 0.0, "ratio"),
        "streaming.merge.call_ms_p50" -> (if (mergeMs.isEmpty) 0.0 else Stats.median(mergeMs), "ms"),
        "streaming.merge.call_ms_p99" -> (if (mergeMs.isEmpty) 0.0 else Stats.percentile(mergeMs, 99), "ms"),
        "streaming.merge.jobs_per_batch" -> (mergeWork.jobs / nb, "count"),
        "streaming.merge.task_s" -> (mergeWork.taskNs / 1e9 / nb, "s"),
        "streaming.merge.shuffle_mb" -> ((mergeWork.shuffleReadBytes + mergeWork.shuffleWriteBytes) / 1048576.0 / nb, "MB"),
        "streaming.viewstore.bytes_written_mb" -> (written.map(_.bytes).sum / 1048576.0, "MB"),
        "streaming.viewstore.write_amp" -> (if (liveBytes > 0) written.map(_.bytes).sum.toDouble / liveBytes else 0.0, "ratio"),
        "streaming.viewstore.files_written" -> (written.map(_.files).sum.toDouble, "count"),
        "streaming.viewstore.buckets_touched_p50" -> (if (written.isEmpty) 0.0 else Stats.median(written.map(_.buckets.toDouble).toSeq), "count"),
        "streaming.viewstore.live_files_end" -> (liveFiles.size.toDouble, "count"),
        "streaming.state.rows_total_end" -> (lastState.getOrElse("rows_total", 0.0), "count"),
        "streaming.state.memory_mb_end" -> (lastState.getOrElse("memory_bytes", 0.0) / 1048576.0, "MB"),
        "streaming.state.updates_ms_p50" -> (p50(st(_, "updates_ms")), "ms"),
        "streaming.state.commit_ms_p50" -> (p50(st(_, "commit_ms")), "ms"),
        "streaming.state.rocksdb_flush_ms_p50" -> (p50(st(_, "rocksdbCommitFlushLatency")), "ms"),
        "streaming.state.rocksdb_sst_mb_end" -> (lastState.getOrElse("rocksdbSstFileSize", 0.0) / 1048576.0, "MB"),
        "gen.late_ms_p99" -> (Stats.percentile(lateness, 99), "ms"),
        "gen.sent_events" -> (sentEvents.toDouble, "count"),
        "gen.committed_eps" -> (readings("committed_eps")._1, "1/s"),
        "cdc.fold.eps" -> (delivered.size / foldS, "1/s"),
        "queries.build_jobs" -> (buildS.map(sp => tracer.selfWork(sp.id).jobs).sum.toDouble / (if (state) 1 else nb), "count")) ++
        Main.execLayers(openWork, nb, openBatches.map(dur(_, "addBatch")).sum / 1000, a.cores) ++ hostLayers ++
        Main.notRun(Main.BoardLayers ++ (if (state) Main.MergeLayers else Main.StateLayers): _*)
      val openIds = openBatches.map(_.id).toSet
      val warmLast = sentOffsets(warm.size - 1)._1
      val rows = batches.map { b =>
        val phase =
          if (b.endOffset <= warmLast) "warm"
          else if (openIds(b.id)) "open"
          else if (b.endOffset < openFirst) "lead-in"
          else "drain"
        Map("batch" -> b.id, "phase" -> phase, "rows" -> recordsIn(b), "input_rows_reported" -> b.rows, "start_offset" -> b.startOffset,
          "end_offset" -> b.endOffset, "duration_ms" -> b.durations, "state" -> b.state.getOrElse(Map.empty),
          "merge_ms" -> spansOf(b.id, "CdcStream.mergeBatchIntoParquet").map(_.seconds * 1000).sum,
          "decode_in" -> decode(b)._1, "decode_out" -> decode(b)._2,
          "store" -> viewBatches.get(b.id).map(s => Map("files" -> s.files, "bytes" -> s.bytes, "buckets" -> s.buckets))) ++
          Main.workRow(work(b.id))
      }
      (layers, rows)
    }

    val errors = bad.take(20).map(k => s"view mismatch for $k: got ${view.get(k)} want ${want.get(k)}") ++
      (if (uncommitted > 0) Seq(s"$uncommitted events never committed") else Nil)
    Out(e2e, readings, layers, rows,
      attempted = want.size.toLong + uncommitted,
      failed = bad.size.toLong + uncommitted,
      errors = errors,
      extra = Map("offered_eps" -> plan.ratePerS, "drain_chunk_events" -> plan.drainChunk))
  }

  /** Mean of the first (`i` = 0) or last (`i` = 2) third of a series. */
  private def third(xs: Seq[Int], i: Int): Double = {
    val k = math.max(xs.size / 3, 1)
    val part = if (i == 0) xs.take(k) else xs.takeRight(k)
    if (part.isEmpty) 0.0 else part.sum.toDouble / part.size
  }

  /** Parquet data files the live view manifest points at. */
  private def liveDataFiles(spark: SparkSession, viewPath: String): Seq[java.io.File] =
    ViewStore.readManifest(spark, viewPath).toSeq.flatMap(_.buckets.values)
      .flatMap(rel => FileTree.under(new java.io.File(s"$viewPath/$rel")))
      .filter(_.getName.startsWith("part-"))
}
