package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Process-level probes: CPU from /proc, GC and heap from the MXBeans. */
object Probe {
  private val ticksPerMs = 100.0 / 1000 // USER_HZ is 100 on Linux

  /** User + system CPU of this process, in ms (utime and stime of
    * /proc/self/stat, fields 14 and 15). */
  def cpuMs(): Double = {
    val stat = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")))
    // the command name (field 2) may hold spaces; count from after its ')'
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / ticksPerMs
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Old-generation occupancy right after a full collection, in MB. The
    * first collection lets Spark's ContextCleaner see the broadcasts and
    * blocks that became garbage; the second runs after it freed them. */
  def liveOldGenMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    Thread.sleep(300)
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
    val old = pools.filter(_.getName.toLowerCase.contains("old"))
    (if (old.nonEmpty) old else pools).map(_.getUsage.getUsed).sum / 1048576.0
  }
}

/** Per-span totals taken from Spark's own task metrics. Jobs are assigned
  * to a span by their job group, which [[Tracer]] sets around each span. */
final class SpanListener extends SparkListener {
  final class Acc { var jobs = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L }

  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val accs = mutable.HashMap.empty[String, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      accs.getOrElseUpdate(g, new Acc).jobs += 1
      e.stageIds.foreach(stageSpan(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = accs.getOrElseUpdate(g, new Acc)
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Totals of one group, removed from the listener. */
  def take(group: String): Acc = synchronized {
    stageSpan.filterInPlace((_, g) => g != group)
    accs.remove(group).getOrElse(new Acc)
  }
}

/** The eight per-span metrics. */
final case class SpanStats(buildMs: Double, execMs: Double, jobs: Double, taskCpuMs: Double,
                           cpuUtil: Double, shuffleMb: Double, spillMb: Double, rowsOut: Double) {
  def wallMs: Double = buildMs + execMs
  def +(o: SpanStats): SpanStats = {
    val wall = wallMs + o.wallMs
    SpanStats(buildMs + o.buildMs, execMs + o.execMs, jobs + o.jobs, taskCpuMs + o.taskCpuMs,
      if (wall > 0) (cpuUtil * wallMs + o.cpuUtil * o.wallMs) / wall else 0.0,
      shuffleMb + o.shuffleMb, spillMb + o.spillMb, rowsOut + o.rowsOut)
  }
  def values: Seq[Double] = Seq(buildMs, execMs, jobs, taskCpuMs, cpuUtil, shuffleMb, spillMb, rowsOut)
}

object SpanStats {
  val Names = Seq("build_ms", "exec_ms", "jobs", "task_cpu_ms", "cpu_util", "shuffle_mb", "spill_mb", "rows_out")
  val Units = Seq("ms", "ms", "count", "ms", "ratio", "MB", "MB", "rows")
}

/** Times the calls a pass makes into graft. Untraced, a span only runs
  * its body. Traced, a span tags its jobs with its name and times the
  * build (the call that returns the frame, with any eager jobs it runs)
  * apart from the execution. */
final class Tracer(spark: SparkSession, val traced: Boolean, listener: SpanListener) {
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  val spans: mutable.LinkedHashMap[String, SpanStats] = mutable.LinkedHashMap.empty

  /** A span whose frame the pass materializes in both modes. The local
    * checkpoint also cuts the lineage, so later stages plan only their own
    * operators. Its blocks are freed by `CacheTracker.drainAll`. */
  def stage(key: String)(build: => DataFrame): DataFrame = {
    var out: DataFrame = null
    run(key)(build) { df =>
      out = df.localCheckpoint()
      if (traced) out.count() else 0L
    }
    out
  }

  /** A span whose frame only traced runs materialize, so that the next
    * span starts from computed data. */
  def frame(key: String)(build: => DataFrame): DataFrame =
    if (traced) stage(key)(build) else build

  /** A span that builds a value and then acts on it; `act` returns the
    * rows the span produced. */
  def run[A](key: String)(build: => A)(act: A => Long): Long =
    if (!traced) act(build)
    else {
      sc.setJobGroup(key, key)
      val cpu0 = Probe.cpuMs()
      val t0 = System.nanoTime()
      var t1 = t0
      val rows =
        try { val built = build; t1 = System.nanoTime(); act(built) }
        finally sc.clearJobGroup()
      val t2 = System.nanoTime()
      val cpu = Probe.cpuMs() - cpu0
      org.apache.spark.PerfbenchBus.drain(sc)
      val a = listener.take(key)
      val wall = (t2 - t0) / 1e6
      val s = SpanStats((t1 - t0) / 1e6, (t2 - t1) / 1e6, a.jobs.toDouble, a.cpuNs / 1e6,
        if (wall > 0) cpu / (wall * cores) else 0.0,
        a.shuffleBytes / 1048576.0, a.spillBytes / 1048576.0, rows.toDouble)
      spans(key) = spans.get(key).fold(s)(_ + s)
      rows
    }
}
