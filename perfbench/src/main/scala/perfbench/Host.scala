package perfbench

import java.nio.file.{Files, Paths}

/** Host-state stamps for the run record, so a draw taken on a loaded
  * box identifies itself. Linux `/proc` reads; absent files read as -1.
  */
object Host {
  private def proc(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    catch { case _: java.io.IOException => None }

  def loadAvg(): Double =
    proc("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  private def meminfoKb(key: String): Long =
    proc("/proc/meminfo").flatMap(_.linesIterator.find(_.startsWith(key + ":")))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Aggregate CPU time (all fields of the `cpu` line) and the part of it
    * the hypervisor gave to other guests (steal), in clock ticks.
    */
  def cpuTicks(): (Long, Long) =
    proc("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    }.getOrElse((-1L, -1L))

  def stamp(): Map[String, Any] = {
    val (cpu, steal) = cpuTicks()
    Json.obj(
      "loadavg_1m" -> loadAvg(),
      "mem_available_mb" -> meminfoKb("MemAvailable") / 1024,
      "dirty_kb" -> meminfoKb("Dirty"),
      "cpu_ticks" -> cpu,
      "steal_ticks" -> steal)
  }

  /** Share of CPU time stolen by other guests between two stamps: a run on
    * a contended host shows it here.
    */
  def stealShare(start: Map[String, Any], end: Map[String, Any]): Double = {
    def l(m: Map[String, Any], k: String) = m.get(k).collect { case x: Long => x }.getOrElse(0L)
    val total = l(end, "cpu_ticks") - l(start, "cpu_ticks")
    if (total <= 0) 0.0 else (l(end, "steal_ticks") - l(start, "steal_ticks")).toDouble / total
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Bytes of all regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Regular files under `dir`. */
  def fileCount(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count()
      finally s.close()
    }
  }

  /** Heap in use after two full collections, in MB. */
  def heapUsedAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}
