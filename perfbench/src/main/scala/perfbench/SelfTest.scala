package perfbench

import java.security.MessageDigest

/** The benchmark's own checks, run by `run.py --selftest`. Prints one
  * PASS or FAIL line per check and exits non-zero on any failure. */
object SelfTest {

  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  private def wireDigest(seed: Long): String = {
    val ticks = CdcWire.records(CdcWire.events(seed, 3000), 1000, seed, 0)
    val md = MessageDigest.getInstance("SHA-256")
    ticks.flatten.foreach(r => md.update((r.json + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def wire(): Unit = {
    val a = wireDigest(7)
    check("the same seed gives a byte-identical wire", a == wireDigest(7))
    check("another seed gives another wire", a != wireDigest(8))
    val recs = CdcWire.records(CdcWire.events(7, 20000), 1000, 7, 0).flatten
    val share = recs.count(_.kind == CdcWire.Pollution).toDouble / recs.size
    check("about 1% of the wire is pollution", share > 0.005 && share < 0.02, f"$share%.4f")
    check("the wire redelivers some records", recs.exists(_.kind == CdcWire.Redelivery))
  }

  def percentiles(): Unit = {
    for (n <- Seq(10, 39, 40, 99, 100, 999, 1000, 9999, 10000, 50000)) {
      val xs = (1 to n).map(_.toDouble).reverse
      val t = Stats.tail(xs)
      val higher = Stats.Ladder.takeWhile(p => !t.exists(_._1 == p))
      val ok = t match {
        case None => Stats.Ladder.forall(p => Stats.beyond(n, p) < 10)
        case Some((p, v)) =>
          Stats.beyond(n, p) >= 10 && xs.count(_ > v) == Stats.beyond(n, p) &&
            higher.forall(h => Stats.beyond(n, h) < 10)
      }
      check(s"tail percentile of $n samples has at least 10 beyond it and is the highest such",
        ok, t.toString)
    }
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank percentiles of 1..100", Stats.percentile(xs, 50) == 50 &&
      Stats.percentile(xs, 90) == 90 && Stats.percentile(xs, 99) == 99 && Stats.median(xs) == 50.5)
  }

  /** An instant system behind a send call that can stall: each tick is
    * committed 5 ms after it was sent. */
  private def openLoop(stallMs: Long): (Double, Double, Double) = {
    val ticks = CdcWire.records(CdcWire.events(3, 400), 200, 3, 0)
    var offset = -1L
    val committed = scala.collection.mutable.ArrayBuffer.empty[OpenLoop.Commit]
    val start = OpenLoop.nowMs() + 20
    val sent = OpenLoop.run(ticks, start, { _ =>
      offset += 1
      if (offset == 5 && stallMs > 0) Thread.sleep(stallMs)
      committed += OpenLoop.Commit(offset, OpenLoop.nowMs() + 5)
      offset
    })
    val (fresh, missing) = OpenLoop.freshness(sent, committed.toSeq, start)
    require(missing == 0)
    val worst = OpenLoop.worstPerCommit(sent, committed.toSeq, start)
    (Stats.percentile(OpenLoop.lateness(sent), 99), Stats.percentile(fresh, 99), worst.max)
  }

  def freshness(): Unit = {
    val (late0, fresh0, worst0) = openLoop(0)
    val (late1, fresh1, worst1) = openLoop(400)
    check("an unstalled run keeps the generator on time", late0 < 100, f"late p99 $late0%.1f ms")
    check("an unstalled run is fresh", fresh0 < 0.15, f"freshness p99 $fresh0%.3f s")
    check("a stalled sink raises gen.late_ms_p99", late1 > 300, f"late p99 $late1%.1f ms")
    check("a stalled sink raises freshness, timed from the due time", fresh1 > 0.3,
      f"freshness p99 $fresh1%.3f s")
    check("a commit's worst freshness is at least its events' freshness",
      worst0 >= fresh0 && worst1 >= fresh1, f"worst $worst0%.3f / $worst1%.3f s")
    check("a stalled sink raises the worst freshness of a commit", worst0 < 0.15 && worst1 > 0.3,
      f"worst $worst0%.3f / $worst1%.3f s")
  }

  def main(args: Array[String]): Unit = {
    wire()
    percentiles()
    freshness()
    sys.exit(if (failures == 0) 0 else 1)
  }
}
