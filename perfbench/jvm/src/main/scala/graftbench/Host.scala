package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Process and host readings: CPU, GC, JIT, resident set, load, disk. */
object Host {
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  /** Heap in use after a full collection, MiB. */
  def heapAfterGcMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(field: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Single-thread host-speed reading: ms to SHA-256 16 MiB. Logged with
    * the load average, never reported as a metric.
    */
  def calibrationMs: Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val block = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    (0 until 16).foreach(_ => md.update(block))
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  /** The same reading on `threads` threads at once: wall ms until all
    * are done. Falls behind the single-thread reading when the host's
    * other tenants hold some of its cores.
    */
  def calibrationParMs(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { calibrationMs; () }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** The host's cumulative CPU ticks from /proc/stat: (all, iowait, steal). */
  private def cpuTicks: (Long, Long, Long) = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (f.sum, f(4), f(7))
  }.getOrElse((0L, 0L, 0L))
  private var lastTicks = (0L, 0L, 0L)

  /** Starts the host's iowait and steal count at the start of the run. */
  def start(): Unit = lastTicks = cpuTicks

  /** Logs the load average, both calibrations, and the host's iowait and
    * steal shares since the previous call (or `start`).
    */
  def log(when: String, cpus: Int): Unit = {
    val load = scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("?")
    val (all, io, steal) = cpuTicks
    val d = (all - lastTicks._1).toDouble max 1.0
    val since = f"iowait ${100 * (io - lastTicks._2) / d}%.1f%%, steal ${100 * (steal - lastTicks._3) / d}%.1f%%"
    lastTicks = (all, io, steal)
    System.err.println(f"[bench] host $when: loadavg $load; $since; sha256 16MiB ${calibrationMs}%.1f ms, " +
      f"on $cpus threads ${calibrationParMs(cpus)}%.1f ms")
  }

  /** (bytes, files) under `dir`, recursively. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }
  }

  /** Data files (parquet, outside `_` sidecar dirs) of every generation of
    * the table's current version.
    */
  def filesInCurrentVersion(dir: String): Long =
    graft.ops.SnapshotTable.currentVersion(dir).map { v =>
      graft.ops.SnapshotTable.chainOf(dir, v).map { g =>
        val root = Paths.get(dir, s"v$g")
        val s = Files.walk(root)
        try s.iterator.asScala.count { f =>
          val rel = root.relativize(f).toString
          rel.endsWith(".parquet") && !rel.split("/").exists(_.startsWith("_"))
        }.toLong
        finally s.close()
      }.sum
    }.getOrElse(0L)

  /** Dump the span log as JSON lines: op spans with their children, then
    * one span per Spark job tied to its op.
    */
  def writeSpans(path: String, spans: Seq[(Int, Int, Int, String, Long, Long)],
      jobs: Seq[(Int, Int, String, Long, Long)]): Unit = {
    val lines = spans.map { case (id, parent, op, name, t0, t1) =>
      s"""{"span":$id,"parent":$parent,"op":$op,"name":"$name","start_ns":$t0,"end_ns":$t1}"""
    } ++ jobs.map { case (job, op, group, t0, t1) =>
      s"""{"job":$job,"op":$op,"group":"$group","start_ms":$t0,"end_ms":$t1}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
