package graftbench

/** A published event with the time it was due and the time it landed in
  * the stream source directory. */
final case class Pub(ev: Ev, dueMs: Double, pubMs: Double) {
  def replace: Boolean = ev.eventType == "purchase"
}

/** One `Executor.execute()` call made by the stream's batch thread. */
final case class Dispatch(table: Long, jobId: String, startMs: Double,
    endMs: Double, outputDir: String, bytesIn: Long, rowsIn: Long,
    commits: Seq[Long])

/** A trigger the decision rule demands: the table's pending commits
  * reached the threshold (or one turned stale). `crossing` is the last
  * commit that counts toward it, the one whose due time latency is
  * measured from. */
final case class Episode(table: Long, ordinal: Int, crossing: Pub)

/** Outcome of matching dispatches against the demanded triggers. */
final case class DispatchCheck(pairs: Seq[(Episode, Dispatch)],
    duplicates: Int, missed: Int, extra: Int, unpaired: Seq[Episode],
    leftover: Seq[Dispatch]) {
  def failures: Int = duplicates + missed + extra
}

/** Output checks of the maintenance loop, as pure functions of what the
  * benchmark published and what the engine dispatched. */
object Checks {

  /** Replay the decision rule (`Decide.shouldOptimize` semantics) event by
    * event over each table's log in commit-time order: a commit counts
    * when it is newer than the table's last REPLACE; a table triggers
    * once its count reaches `threshold` or a counted commit is at or
    * before `staleCutoffMs`; a REPLACE clears the count and re-arms. */
  def episodes(pubs: Seq[Pub], threshold: Int, staleCutoffMs: Long): Seq[Episode] =
    pubs.groupBy(_.ev.table).toSeq.sortBy(_._1).flatMap { case (table, ps) =>
      val out = Seq.newBuilder[Episode]
      var lastReplace = Long.MinValue
      var pending = 0
      var stale = false
      var armed = false
      var ordinal = 0
      ps.sortBy(p => (p.ev.tsMs, if (p.replace) 0 else 1, p.ev.eventId)).foreach { p =>
        if (p.replace) {
          if (p.ev.tsMs >= lastReplace) {
            lastReplace = p.ev.tsMs; pending = 0; stale = false; armed = false
          }
        } else if (p.ev.tsMs > lastReplace) {
          pending += 1
          stale ||= p.ev.tsMs <= staleCutoffMs
          if (!armed && (pending >= threshold || stale)) {
            armed = true
            out += Episode(table, ordinal, p)
            ordinal += 1
          }
        }
      }
      out.result()
    }

  /** Match each table's dispatches to its episodes. A dispatch with no
    * REPLACE of its table published since the table's previous dispatch
    * is a duplicate. Each episode takes the first unused dispatch made at
    * or after its crossing commit was published and before the next
    * episode's crossing; an episode left without one is missed, and a
    * dispatch left unpaired is extra. */
  def matchDispatches(episodes: Seq[Episode], dispatches: Seq[Dispatch],
      pubs: Seq[Pub]): DispatchCheck = {
    val replaces = pubs.filter(_.replace).groupBy(_.ev.table)
    val eps = episodes.groupBy(_.table)
    var dup = 0
    val pairs = Seq.newBuilder[(Episode, Dispatch)]
    val unpaired = Seq.newBuilder[Episode]
    val leftover = Seq.newBuilder[Dispatch]
    (eps.keySet ++ dispatches.map(_.table)).toSeq.sorted.foreach { t =>
      val ds = dispatches.filter(_.table == t).sortBy(_.startMs)
      val rs = replaces.getOrElse(t, Nil).map(_.pubMs)
      val free = ds.zipWithIndex.filter { case (d, i) =>
        val isDup = i > 0 && !rs.exists(r => r > ds(i - 1).startMs && r < d.startMs)
        if (isDup) dup += 1
        !isDup
      }.map(_._1).toBuffer
      val e = eps.getOrElse(t, Nil).sortBy(_.ordinal)
      e.zipWithIndex.foreach { case (ep, i) =>
        val until = if (i + 1 < e.size) e(i + 1).crossing.pubMs else Double.PositiveInfinity
        free.indexWhere(d => d.startMs >= ep.crossing.pubMs && d.startMs < until) match {
          case -1 => unpaired += ep
          case j => pairs += ep -> free.remove(j)
        }
      }
      leftover ++= free
    }
    val (u, l) = (unpaired.result(), leftover.result())
    DispatchCheck(pairs.result(), dup, u.size, l.size, u, l)
  }

  /** For the detail record of a failed check: each table with a missed
    * trigger or an extra dispatch, with its events (id, event time,
    * published, replace or not), its dispatches and the crossing commits
    * of its missed triggers. Times are ms from `t0`. */
  def failureDetail(dc: DispatchCheck, pubs: Seq[Pub], dispatches: Seq[Dispatch],
      t0: Double): Map[String, Any] =
    (dc.unpaired.map(_.table) ++ dc.leftover.map(_.table)).distinct.map { t =>
      s"t$t" -> Map(
        "events" -> pubs.filter(_.ev.table == t).sortBy(_.pubMs).map(p =>
          Seq(p.ev.eventId, p.ev.tsMs, p.pubMs - t0, p.replace)),
        "dispatches" -> dispatches.filter(_.table == t).map(_.startMs - t0).sorted,
        "missed_crossings" -> dc.unpaired.filter(_.table == t).map(_.crossing.ev.eventId),
        "extra_dispatches" -> dc.leftover.filter(_.table == t).map(_.startMs - t0))
    }.toMap
}
