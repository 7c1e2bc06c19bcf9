package graft.util

/** Host-noise probes shared by every harness that brackets a timed rep
  * ([[graft.BenchOne]], [[graft.ScaleLadder]]) — one implementation so
  * a fix (or a USER_HZ correction) lands everywhere at once.
  */
object HostProbe {

  /** Host-steal seconds since boot (`/proc/stat` cpu line, field 8, in
    * USER_HZ = 1/100 s ticks) — the direct counter for "the hypervisor
    * ran someone else on our vCPUs". Sample before/after a rep; the
    * delta brackets the whole rep window. -1 when unreadable
    * (non-Linux). */
  def stealSeconds(): Double = {
    var src: scala.io.Source = null
    try {
      src = scala.io.Source.fromFile("/proc/stat")
      val cpu = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
      cpu(8).toDouble / 100.0
    } catch { case _: Throwable => -1.0 }
    finally if (src != null) { try src.close() catch { case _: Throwable => () } }
  }
}
