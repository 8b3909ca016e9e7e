package perfbench

import java.io.File
import scala.io.Source

/** Machine conditions of a run: recorded next to the metrics, never gated
  * on. Steal is the share of CPU time the hypervisor took from this guest
  * over the run, from /proc/stat.
  */
final class Provenance(work: File, stealStart: (Long, Long), loadStart: Double) {
  def finish(): String = {
    val (s1, t1) = Provenance.stealTotal()
    val stealPct =
      if (stealStart._1 < 0 || s1 < 0 || t1 <= stealStart._2) -1.0
      else 100.0 * (s1 - stealStart._1) / (t1 - stealStart._2)
    val (fs, mount) = Provenance.filesystem(work)
    Json.obj(Seq(
      "steal_pct" -> Json.num(stealPct),
      "loadavg_start" -> Json.num(loadStart),
      "loadavg_end" -> Json.num(Provenance.loadavg()),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_cores" -> Main.Cpus.toString,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "spool_fs" -> Json.str(fs),
      "spool_mount" -> Json.str(mount)))
  }
}

object Provenance {
  def start(work: File): Provenance = new Provenance(work, stealTotal(), loadavg())

  private def firstLine(path: String): Option[String] =
    try { val s = Source.fromFile(path); try s.getLines().nextOption() finally s.close() }
    catch { case _: java.io.IOException => None }

  def loadavg(): Double =
    firstLine("/proc/loadavg").map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Cumulative (steal, total) jiffies of the aggregate cpu line. Total
    * counts user..steal only: guest time is already inside user and nice.
    */
  def stealTotal(): (Long, Long) =
    firstLine("/proc/stat").map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else -1L, f.take(8).sum)
    }.getOrElse((-1L, -1L))

  /** Filesystem type and mount point holding `dir` (longest mount prefix). */
  def filesystem(dir: File): (String, String) = {
    val path = dir.getCanonicalPath
    val mounts =
      try { val s = Source.fromFile("/proc/mounts"); try s.getLines().toList finally s.close() }
      catch { case _: java.io.IOException => Nil }
    mounts.map(_.split(" ")).collect { case f if f.length > 2 => (f(1), f(2)) }
      .filter { case (mp, _) => path == mp || path.startsWith(if (mp.endsWith("/")) mp else mp + "/") }
      .sortBy(-_._1.length).headOption
      .map { case (mp, fs) => (fs, mp) }.getOrElse(("unknown", "unknown"))
  }
}
