package perfbench

/** The open-loop sender and the freshness accounting that goes with it.
  *
  * Sending runs on one thread, on a fixed schedule that does not wait for
  * the system: tick k is due `k × TickMs` after the start and is sent as
  * soon as the sender is free past that moment. Freshness is measured from
  * each record's *due* time, so a stall anywhere, in the sender too, shows
  * in freshness instead of silently delaying the schedule.
  */
object OpenLoop {

  /** One sent tick: the source offset it produced, and when it was due and
    * sent (epoch ms). */
  final case class Sent(offset: Long, dueMs: Double, sentMs: Double, records: Vector[CdcWire.Record])

  /** One committed micro-batch: the last source offset it holds and the
    * wall time (epoch ms) its commit ended. */
  final case class Commit(endOffset: Long, endMs: Double)

  /** Send every tick on schedule from `startMs`; `send` hands a tick to the
    * system and returns the source offset it was given. */
  def run(ticks: Vector[Vector[CdcWire.Record]], startMs: Double,
      send: Vector[CdcWire.Record] => Long): Vector[Sent] =
    ticks.zipWithIndex.map { case (tick, k) =>
      val due = startMs + k.toDouble * CdcWire.TickMs
      val wait = due - nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
      val sentAt = nowMs()
      Sent(send(tick), due, sentAt, tick)
    }

  def nowMs(): Double = System.nanoTime() / 1e6 + nanoToEpochMs

  private val nanoToEpochMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** The commit that holds `offset`: the first whose end offset reaches it. */
  def commitOf(commits: Seq[Commit], offset: Long): Option[Commit] =
    commits.find(_.endOffset >= offset)

  /** Seconds from each first-delivered event's due time to the end of the
    * commit that holds it, for a phase that started at `startMs`; events
    * never committed are counted instead. */
  def freshness(sent: Seq[Sent], commits: Seq[Commit], startMs: Double): (Vector[Double], Int) = {
    val ordered = commits.sortBy(_.endOffset).toVector
    var missing = 0
    val fresh = sent.toVector.flatMap { s =>
      val events = s.records.filter(_.kind == CdcWire.Event)
      commitOf(ordered, s.offset) match {
        case Some(c) => events.map(r => (c.endMs - (startMs + r.dueMs)) / 1000.0)
        case None => missing += events.size; Vector.empty
      }
    }
    (fresh, missing)
  }

  /** Per commit that holds events of `sent`, the freshness of its oldest
    * event, seconds: how stale the view was just before that commit. */
  def worstPerCommit(sent: Seq[Sent], commits: Seq[Commit], startMs: Double): Vector[Double] = {
    val ordered = commits.sortBy(_.endOffset).toVector
    sent.toVector.flatMap { s =>
      val dues = s.records.filter(_.kind == CdcWire.Event).map(_.dueMs)
      if (dues.isEmpty) None
      else commitOf(ordered, s.offset).map(c => c.endOffset -> (c.endMs - (startMs + dues.min)) / 1000.0)
    }.groupBy(_._1).values.map(_.map(_._2).max).toVector
  }

  /** Generator lateness per tick, ms. */
  def lateness(sent: Seq[Sent]): Vector[Double] = sent.toVector.map(s => s.sentMs - s.dueMs)
}
