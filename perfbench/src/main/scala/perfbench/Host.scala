package perfbench

import java.nio.file.{Files, Paths}

/** Co-tenant load over an interval, by graft.Bench's /proc/stat method
  * (busy = total − idle − iowait jiffies, scaled to cores), minus this
  * process's own CPU time from /proc/self/stat. */
object Host {
  final case class Snap(total: Long, idle: Long, self: Long)

  private lazy val statCpus: Int =
    Files.readAllLines(Paths.get("/proc/stat")).toArray.count(_.toString.matches("cpu[0-9]+.*"))

  def snap(): Snap = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    // utime and stime are fields 14 and 15; the name field may hold spaces
    val st = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val rest = st.substring(st.lastIndexOf(')') + 2).split(" ")
    Snap(f.sum, f(3) + f(4), rest(11).toLong + rest(12).toLong)
  }

  /** Cores kept busy by other processes between two snapshots. */
  def otherBusyCores(a: Snap, b: Snap): Double = {
    val total = (b.total - a.total).toDouble
    if (total <= 0) 0.0
    else {
      val busy = total - (b.idle - a.idle) - (b.self - a.self)
      math.max(0.0, busy / total * statCpus)
    }
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()
}
