package perfbench

/** Per-layer figures of a traced run. Every span's eight metrics go to the
  * printed table, with the dominant span named. The JSON result keeps the
  * ones both workloads have, the pass as a whole and its ingest span
  * (`sources.read_*`), so that no workload reports a layer it never ran;
  * rows and spill are left out of it, as no speed-up changes them. */
object Layers {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Field-wise median over passes. */
  private def medianStats(xs: Seq[SpanStats]): SpanStats = {
    val cols = xs.map(_.values).transpose.map(median)
    SpanStats(cols(0), cols(1), cols(2), cols(3), cols(4), cols(5), cols(6), cols(7))
  }

  def metrics(traced: Seq[Main.Pass], plain: Seq[Main.Pass]): Seq[(String, Double, String)] = {
    require(traced.nonEmpty && plain.nonEmpty, "no successful traced and untraced pass")
    val keys = traced.head.spans.map(_._1)
    val perSpan = keys.map(k => k -> medianStats(traced.map(_.spans.toMap.apply(k))))
    val whole = medianStats(traced.map(_.spans.map(_._2).reduce(_ + _)))
    val (dominant, domStats) = perSpan.maxBy(_._2.wallMs)
    val ingest = perSpan.collectFirst { case (k, s) if k.startsWith("sources.read_") => s }.get

    println(f"${"span"}%-32s" + SpanStats.Names.map(n => f"$n%12s").mkString)
    (perSpan :+ ("pass (sum of spans)" -> whole)).foreach { case (k, s) =>
      println(f"$k%-32s" + s.values.map(v => f"$v%12.2f").mkString)
    }
    val tracedWall = median(traced.map(_.wallMs))
    println(f"dominant span: $dominant (${domStats.wallMs / whole.wallMs * 100}%.1f%% of span time)")

    def block(prefix: String, s: SpanStats) =
      SpanStats.Names.zip(SpanStats.Units).zip(s.values)
        .collect { case ((n, u), v) if n != "rows_out" && n != "spill_mb" => (s"$prefix.$n", v, u) }
    block("pass", whole) ++ block("ingest", ingest) ++ Seq(
      ("pass.build_share", median(traced.map(p => p.spans.map(_._2.buildMs).sum / p.wallMs)), "ratio"),
      ("trace.span_coverage", median(traced.map(p => p.spans.map(_._2.wallMs).sum / p.wallMs)), "ratio"),
      ("trace.overhead_ratio", tracedWall / median(plain.map(_.wallMs)), "ratio"))
  }
}
