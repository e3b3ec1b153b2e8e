package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import perfbench.Layers.median
import scala.util.control.NonFatal

/** One benchmark run: generate the corpus, start graft, warm up, then run
  * passes back to back (one client, closed loop) for `--seconds`.
  *
  * Usage: Main --workload sentiment|curation --seed N --seconds S
  *             --trace 0|1 --cores C --work DIR
  *
  * The last line of stdout is the JSON result: with `--trace 0` the
  * end-to-end metrics, with `--trace 1` the per-layer ones.
  */
object Main {
  /** Corpus generations per run; `setup_s` takes their median. */
  private val Setups = 3
  /** Untimed passes before measuring, part of `setup_s`. */
  private val Warmups = 1
  /** A run makes at least this many measured passes, however long. */
  private val MinPasses = 3

  final case class Pass(wallMs: Double, cpuMs: Double, heapMb: Double, ok: Boolean,
                        spans: Seq[(String, SpanStats)])

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val runSeconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    require(Corpus.Specs.contains(workload), s"unknown workload $workload")

    val spark = graft.Graft.session(s"local[$cores]", Some(cores))
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val genS = (1 to Setups).map(i =>
      seconds(Corpus.write(spark, workload, seed, s"$work/corpus-$i"))._2)
    val w = Workload(workload, spark, s"$work/corpus-1", work)
    println(s"workload=$workload seed=$seed cores=$cores traced=$traced")
    println(f"session start $sessionS%.3f s, corpus generation ${genS.map(g => f"$g%.3f").mkString(" ")} s")
    println("corpus: " + Corpus.properties(w.corpusDocs, w.plantedDup)
      .map { case (n, x) => if (x == x.floor) f"$n=$x%.0f" else f"$n=$x%.4f" }.mkString(" "))

    def pass(trace: Boolean): Pass = {
      val t = new Tracer(spark, trace, listener)
      val (cpu0, gc0) = (Probe.cpuMs(), Probe.gcMs())
      val t0 = System.nanoTime()
      val out = try Right(w.pass(t)) catch { case NonFatal(e) => Left(e) }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val cpuMs = Probe.cpuMs() - cpu0
      val gcMs = Probe.gcMs() - gc0
      val heapMb = Probe.liveOldGenMb()
      val ok = out match {
        case Left(e) =>
          println(s"pass failed: $e"); false
        case Right(o) =>
          val (v, checkS) = seconds(
            try w.check(o) catch { case NonFatal(e) => Verdict(Seq(s"check threw $e" -> false), Nil) })
          v.checks.filterNot(_._2).foreach { case (n, _) => println(s"check failed: $n") }
          println(f"pass ${if (trace) "traced" else "untraced"} ${wallMs / 1e3}%.3f s, cpu ${cpuMs / 1e3}%.3f s, gc $gcMs ms, " +
            f"live heap $heapMb%.1f MB, checks ${if (v.ok) "ok" else "FAILED"} in $checkS%.2f s; " +
            v.figures.map { case (n, x) => f"$n=$x%.6f" }.mkString(" "))
          v.ok
      }
      graft.CacheTracker.drainAll(spark)
      Pass(wallMs, cpuMs, heapMb, ok, t.spans.toSeq)
    }

    val (warm, warmS) = seconds((1 to Warmups).map(_ => pass(trace = false)))
    val setupS = sessionS + median(genS) + warmS

    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (runSeconds * 1e9).toLong
    while (System.nanoTime() < deadline || passes.size < MinPasses) {
      passes += pass(trace = false)
      if (traced) passes += pass(trace = true)
    }
    val all = warm ++ passes
    val failed = all.count(!_.ok)
    val plain = passes.filter(p => p.ok && p.spans.isEmpty).toSeq

    // Rates over all measured passes: the passes of one fresh JVM still get
    // faster as the JIT compiles, and the sums smooth that better than the
    // median pass does (10-seed spreads of 6.5-7.1% against 6.4-9.7%).
    val kdocs = w.docs * plain.size / 1e3
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("docs_per_s", kdocs / (plain.map(_.wallMs).sum / 1e6), "1/s"),
        ("cpu_ms_per_kdoc", plain.map(_.cpuMs).sum / kdocs, "ms"),
        ("heap_live_mb", median(plain.map(_.heapMb)), "MB"),
        ("setup_s", setupS, "s"))
      else Layers.metrics(passes.filter(p => p.ok && p.spans.nonEmpty).toSeq, plain)

    println(s"passes: ${all.size} attempted, $failed failed, error_rate ${failed.toDouble / all.size}, " +
      s"output checks ${if (failed == 0) "passed" else "FAILED"}")
    metrics.foreach { case (n, v, u) => println(f"$n%-28s $v%14.4f $u") }
    spark.stop()
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, "metrics": $json}""")
  }
}
