package graftbench

/** Tiny-scale self-test (`run.py --selftest`): every workload at sf0.001
  * with a handful of tables must emit every named metric and pass its
  * output checks, and the checks must catch a planted duplicate dispatch,
  * both in a pure replay and inside a running loop. */
object SelfTest {
  def run(base: Main.Args): Unit = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) problems += what

    // Pure replay: ten commits trigger, a second dispatch lands before the
    // REPLACE, ten more commits after it trigger again.
    def pub(id: Long, ts: Long, op: String) = Pub(Ev(id, ts, 1, op), ts, ts)
    val pubs = (1 to 10).map(i => pub(i, i, "click")) ++ Seq(pub(50, 200, "purchase")) ++
      (1 to 10).map(i => pub(100 + i, 300 + i, "click"))
    def disp(at: Double) = Dispatch(1, s"j$at", at, at, "", 0, 0, Nil)
    val eps = Checks.episodes(pubs, 10, Long.MinValue)
    expect(eps.size == 2, s"replay: expected 2 triggers, got ${eps.size}")
    val clean = Checks.matchDispatches(eps, Seq(disp(100), disp(400)), pubs)
    expect(clean.failures == 0, s"replay: clean dispatches flagged $clean")
    val dup = Checks.matchDispatches(eps, Seq(disp(100), disp(150), disp(400)), pubs)
    expect(dup.duplicates == 1, s"replay: planted duplicate not caught $dup")
    val miss = Checks.matchDispatches(eps, Seq(disp(100)), pubs)
    expect(miss.missed == 1, s"replay: missing dispatch not caught $miss")
    // A spurious dispatch before the first trigger must not stand in for
    // that trigger's missing dispatch.
    val early = Checks.matchDispatches(eps, Seq(disp(5), disp(400)), pubs)
    expect(early.missed == 1 && early.extra == 1,
      s"replay: early dispatch paired with a later trigger $early")

    val names = Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1)
    Main.Workloads.foreach { w =>
      val (res, line) = Main.runOne(base.copy(workload = w, seed = 7, seconds = 3,
        trace = true, tiny = true))
      val emitted = res.e2e ++ res.layer
      val missing = names.filterNot(n => emitted.get(n).exists(v => !v.isNaN))
      expect(missing.isEmpty, s"$w: metrics not emitted: ${missing.mkString(", ")}")
      val zero = Main.EndToEnd.map(_._1).filter(n => res.e2e.get(n).exists(_ <= 0))
      expect(zero.isEmpty, s"$w: end-to-end metrics not positive: ${zero.mkString(", ")}")
      expect(res.failed == 0, s"$w: output checks failed ${res.checks}")
      expect(line.startsWith("{\"correct\":true"), s"$w: result line $line")
    }
    val (planted, _) = Main.runOne(base.copy(workload = "maint_steady", seed = 7,
      seconds = 3, trace = false, tiny = true, plantDuplicate = true))
    expect(planted.checks.getOrElse("dispatch_duplicates", 0L) >= 1,
      s"planted duplicate dispatch not caught: ${planted.checks}")

    println(Json.render(Json.obj("selftest" -> (if (problems.isEmpty) "ok" else "failed"),
      "problems" -> problems.toSeq)))
    System.out.flush()
    System.exit(if (problems.isEmpty) 0 else 1)
  }
}
