package graft

/** Quiet-box self-labeling shared by [[Bench]] and `Probe time`: the
  * /proc/stat busy-fraction over a 1.5 s SLEEP window, sampled while
  * this process is idle, so the sample sees OTHER processes' load.
  * This host is shared with the driver's own jobs and its speed varies
  * ~2× between sessions; a wall-clock number without a contention
  * label is uninterpretable later (a loaded box once inflated a
  * single-rep artifact 3.5× — SCALE.md r8). Threshold 0.05 = more than
  * 5% of the box's hardware threads busy during the window: ~1.6 of 32,
  * 0.2 of 4 (an idle box samples <0.01; the driver's concurrent jobs
  * sample 0.1+).
  * A /proc/stat read failure reports -1 and (unknowably) not
  * contended. End-of-run windows should be sampled AFTER
  * `spark.stop()` so the session's own GC/JIT/daemon threads don't
  * count toward busy (r15 advisor).
  */
object QuietBox {
  val Threshold = 0.05

  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val parts =
        try f.getLines().find(_.startsWith("cpu ")).get
          .trim.split("\\s+").drop(1).map(_.toLong)
        finally f.close()
      val idle = parts(3) + parts.lift(4).getOrElse(0L) // idle + iowait
      Some((parts.sum - idle, parts.sum))
    } catch { case _: Throwable => None }

  /** Busy fraction over one 1.5 s window; -1.0 if /proc/stat is unreadable. */
  def busyWindow(): Double = (for {
    (b0, t0) <- cpuTicks()
    _ = Thread.sleep(1500)
    (b1, t1) <- cpuTicks() if t1 > t0
  } yield (b1 - b0).toDouble / (t1 - t0)).getOrElse(-1.0)

  def readLoadAvg: String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0)
    catch { case _: Throwable => "-1" }
}
