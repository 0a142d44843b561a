package perfbench

import scala.util.Random

import graft.cdc.{CdcEvent, EventGen}

/** The CDC workloads' input: seeded `EventGen` lifecycles, in event-time
  * order, written as MongoDB change-stream JSON envelopes.
  *
  * The generator only produces records; it never sees the engine. Noise a
  * real change stream carries is mixed in from the same seed: records are
  * sent in ticks and shuffled within each tick, some ticks redeliver the
  * tail of the previous one (a resumed cursor), and about 1% of records are
  * pollution that must never reach the view: malformed JSON, delete and
  * invalidate operations, ttl-marked migration touches and unknown event
  * codes.
  */
object CdcWire {

  /** What a record is, for the oracle and for freshness accounting. */
  sealed trait Kind
  /** First delivery of an event that must be applied to the view. */
  case object Event extends Kind
  /** Second delivery of an event already sent. */
  case object Redelivery extends Kind
  /** A record the decoder or the pre-filter must drop. */
  case object Pollution extends Kind

  /** One wire record: `event` is the decoded form of an [[Event]] or
    * [[Redelivery]] record, `dueMs` its scheduled send time measured from
    * the start of its phase. */
  final case class Record(json: String, kind: Kind, event: Option[CdcEvent], dueMs: Double)

  /** Send interval of the open-loop generator. */
  val TickMs = 50

  val UnknownCode = "TRANSACTION_UNKNOWN_EVENT"

  /** Mean events per EventGen lifecycle, to size the transaction count. */
  private val EventsPerTx = 5.75

  /** At least `n` events of seeded lifecycles, in (event time, id) order. */
  def events(seed: Long, n: Int): Vector[CdcEvent] = {
    val nTx = math.ceil(n / EventsPerTx * 1.2).toInt + 16
    val all = EventGen.generate(nTx, seed, noise = false).toVector.sortBy(e => (e.tsMs, e.id))
    require(all.size >= n, s"generated ${all.size} events, need $n")
    all.take(n)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  /** The event as the change stream's `fullDocument`: one field per set
    * value, in declaration order. */
  def document(e: CdcEvent): String =
    e.productElementNames.zip(e.productIterator).flatMap {
      case (_, None) => None
      case (k, Some(v)) => Some(k -> v)
      case (k, v) => Some(k -> v)
    }.map { case (k, v) =>
      val value = v match {
        case s: String => quote(s)
        case other => other.toString
      }
      s"${quote(k)}:$value"
    }.mkString("{", ",", "}")

  /** A change-stream envelope around `fullDocument` (or none). */
  def envelope(op: String, clusterMs: Long, ord: Long, doc: Option[String]): String = {
    val head = s"""{"operationType":${quote(op)},"clusterTime":{"$$timestamp":{"t":${clusterMs / 1000},"i":$ord}}"""
    doc.fold(head + "}")(d => s"""$head,"fullDocument":$d}""")
  }

  /** A polluted record derived from `e`: never valid for the view. */
  private def pollution(e: CdcEvent, ord: Long, rnd: Random): String =
    rnd.nextInt(5) match {
      case 0 => // truncated mid-document
        val full = envelope("insert", e.tsMs, ord, Some(document(e)))
        full.take(10 + rnd.nextInt(full.length - 20))
      case 1 => envelope("delete", e.tsMs, ord, None)
      case 2 => envelope("invalidate", e.tsMs, ord, None)
      case 3 => // the data-migration touch of an existing document
        envelope("update", e.tsMs, ord, Some(document(e.copy(ttl = Some(3600L)))))
      case _ =>
        envelope("insert", e.tsMs, ord,
          Some(document(e.copy(id = e.id + "-x", eventCode = UnknownCode))))
    }

  /** Records for `evs` sent at `ratePerS`: event i is due at i / rate.
    * Records of one tick are shuffled together; with the seed's draw a
    * tick repeats up to five records of the previous tick; about 1% of
    * events are followed by a polluted record. `ordBase` keeps the
    * envelopes' cluster-time ordinals unique across phases. */
  def records(evs: Seq[CdcEvent], ratePerS: Double, seed: Long, ordBase: Long): Vector[Vector[Record]] = {
    val rnd = new Random(seed)
    val ticks = evs.zipWithIndex.groupBy { case (_, i) => (i * 1000.0 / ratePerS / TickMs).toLong }
    var ord = ordBase
    var previous = Vector.empty[Record]
    (0L to ticks.keys.maxOption.getOrElse(-1L)).toVector.map { t =>
      val tickDue = t.toDouble * TickMs
      val fresh = ticks.getOrElse(t, Seq.empty).sortBy(_._2).flatMap { case (e, i) =>
        val due = i * 1000.0 / ratePerS
        val op = rnd.nextInt(20) match { case 0 => "update"; case 1 => "replace"; case _ => "insert" }
        ord += 1
        val rec = Record(envelope(op, e.tsMs, ord, Some(document(e))), Event, Some(e), due)
        if (rnd.nextInt(100) == 0) {
          ord += 1
          Seq(rec, Record(pollution(e, ord, rnd), Pollution, None, due))
        } else Seq(rec)
      }
      val redelivered =
        if (previous.nonEmpty && rnd.nextInt(20) == 0)
          previous.filter(_.kind == Event).takeRight(1 + rnd.nextInt(5))
            .map(_.copy(kind = Redelivery, dueMs = tickDue))
        else Vector.empty
      val tick = rnd.shuffle(fresh.toVector ++ redelivered)
      previous = tick
      tick
    }
  }
}
