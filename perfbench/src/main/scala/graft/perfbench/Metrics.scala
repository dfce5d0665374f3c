package graft.perfbench

/** The metric catalogue (names and units, in BENCHMARK.json order) and
  * their computation from one run's spans, outcome and trace. */
object Metrics {

  /** Operation kinds that serve a result, and kinds that change stored
    * state or produce a dataset. */
  val readKinds: Set[String] = Set("read", "probe", "provenance")
  val writeKinds: Set[String] = Set("write", "ingest", "forget", "compact", "train")
  val kinds: Seq[String] =
    Seq("read", "write", "ingest", "forget", "compact", "probe", "train", "provenance")

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "read_mean_s" -> "s",
    "write_mean_s" -> "s")

  private val sparkCounters = Seq(
    "jobs" -> "count", "driver_gap_s" -> "s", "task_wait_s" -> "s",
    "executor_cpu_s" -> "s", "input_bytes" -> "bytes",
    "output_bytes" -> "bytes", "shuffle_bytes" -> "bytes")

  val lifecycleOps: Seq[String] = Seq("ingest", "forget", "compact")

  val perLayer: Seq[(String, String)] =
    kinds.flatMap(k => sparkCounters.map { case (m, u) => s"$k.spark.$m" -> u }) ++
    Seq("train.spark.spill_bytes" -> "bytes", "train.spark.gc_s" -> "s") ++
    Seq("read", "write").flatMap(k =>
      Seq(s"queries.$k.plan_s" -> "s", s"queries.$k.exec_s" -> "s")) ++
    Attribution.layouts.flatMap(l => lifecycleOps.flatMap(op => Seq(
      s"operators.layouts.$l.$op.jobs" -> "count",
      s"operators.layouts.$l.$op.span_s" -> "s"))) ++
    Seq("operators.layouts.jobs" -> "count") ++
    Attribution.layouts.flatMap(l => Seq(
      s"operators.layouts.$l.live_generations" -> "count",
      s"operators.layouts.$l.bytes" -> "bytes")) ++
    Seq("operators.layouts.pending_tombstones" -> "count",
      "operators.batch.tokenize_s" -> "s", "operators.batch.pairs_s" -> "s",
      "operators.batch.clusters_s" -> "s", "pipeline.pairs" -> "count",
      "pipeline.kept_per_input" -> "ratio",
      "setup.warmup_s" -> "s", "setup.fixture_s" -> "s",
      "setup.scale_corpus_s" -> "s", "trace.listener_s" -> "s",
      "ingest_p50_s" -> "s", "forget_p50_s" -> "s", "compact_p50_s" -> "s",
      "probe_p50_s" -> "s", "docs_per_s" -> "docs/s",
      "provenance_docs_per_s" -> "docs/s", "bytes_per_live_byte" -> "ratio")

  private def latencies(ops: Seq[Span], ks: Set[String]): Seq[Double] =
    ops.filter(o => ks(o.kind))
      .map(o => if (o.error.isEmpty) o.seconds else Double.PositiveInfinity)

  private def p50(ops: Seq[Span], ks: Set[String]): Double = {
    val xs = latencies(ops, ks)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Throughputs of the corpus workload, from its input size. */
  def derive(ops: Seq[Span], o: Outcome): Unit =
    o.layer.get("input_docs").foreach { n =>
      o.layer("docs_per_s") = n / p50(ops, Set("train"))
      o.layer("provenance_docs_per_s") = n / p50(ops, Set("provenance"))
    }

  def endToEndValues(ops: Seq[Span], o: Outcome, setupS: Double): Map[String, Double] =
    Map(
      "setup_s" -> setupS,
      "ops_per_s" -> ops.count(_.error.isEmpty) / o.timedS,
      "read_mean_s" -> Stats.mean(latencies(ops, readKinds)),
      "write_mean_s" -> Stats.mean(latencies(ops, writeKinds)))

  /** Metrics per operation type (latency p50 and, where the sample
    * allows, a tail), run health and the workload's own throughputs:
    * reported on every run by name, beside the end-to-end ones. */
  def detail(ops: Seq[Span], o: Outcome): Seq[(String, Double, String)] = {
    val present = ops.map(_.kind).toSet
    val p50s = kinds.filter(present).flatMap { k =>
      val xs = latencies(ops, Set(k))
      val tail = Stats.tailPercentile(xs.size).map(p =>
        (s"${k}_p${p}_s", Stats.quantile(xs, p / 100.0), "s"))
      Seq((s"${k}_p50_s", Stats.median(xs), "s")) ++ tail
    }
    val failed = ops.count(_.error.nonEmpty)
    val unit = perLayer.toMap
    val extra = Seq("docs_per_s", "provenance_docs_per_s", "bytes_per_live_byte",
      "pipeline.kept_per_input").flatMap(m => o.layer.get(m).map(v => (m, v, unit(m))))
    p50s ++ Seq(
      ("ops_completed", (ops.size - failed).toDouble, "count"),
      ("harness_checks_s", o.gateS, "s"),
      ("host_steal_share", o.stealShare, "share"),
      ("heap_peak_mb", o.heapMiB, "MiB"),
      ("error_rate", if (ops.isEmpty) 0.0 else failed.toDouble / ops.size, "share")) ++
      extra
  }

  def perLayerValues(
      all: Seq[Span], o: Outcome, work: Map[Int, Attribution.OpWork],
      rec: Recorder): Map[String, Double] = {
    val ops = all.filter(_.parent.isEmpty)
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    perLayer.foreach { case (n, _) => v(n) = 0.0 }
    def meanOver(k: String)(f: Attribution.OpWork => Double): Double =
      Stats.mean(ops.filter(_.kind == k).flatMap(op => work.get(op.id)).map(f))
    kinds.foreach { k =>
      v(s"$k.spark.jobs") = meanOver(k)(_.jobs.toDouble)
      v(s"$k.spark.driver_gap_s") = meanOver(k)(_.driverGapS)
      v(s"$k.spark.task_wait_s") = meanOver(k)(_.taskWaitS)
      v(s"$k.spark.executor_cpu_s") = meanOver(k)(_.cpuS)
      v(s"$k.spark.input_bytes") = meanOver(k)(_.inBytes.toDouble)
      v(s"$k.spark.output_bytes") = meanOver(k)(_.outBytes.toDouble)
      v(s"$k.spark.shuffle_bytes") = meanOver(k)(_.shuffleBytes.toDouble)
    }
    v("train.spark.spill_bytes") = meanOver("train")(_.spillBytes.toDouble)
    v("train.spark.gc_s") = meanOver("train")(_.gcS)
    Seq("read", "write").foreach { k =>
      Seq("plan", "exec").foreach { s =>
        v(s"queries.$k.${s}_s") =
          Stats.mean(all.filter(x => x.parent.nonEmpty && x.kind == k && x.name == s)
            .map(_.seconds))
      }
    }
    for (l <- Attribution.layouts; op <- lifecycleOps) {
      v(s"operators.layouts.$l.$op.jobs") =
        meanOver(op)(_.byLayout.get(l).map(_._1.toDouble).getOrElse(0.0))
      v(s"operators.layouts.$l.$op.span_s") =
        meanOver(op)(_.byLayout.get(l).map(_._2).getOrElse(0.0))
    }
    v("operators.layouts.jobs") =
      work.values.map(_.byLayout.values.map(_._1).sum).sum.toDouble
    Seq("ingest", "forget", "compact", "probe").foreach { k =>
      v(s"${k}_p50_s") = p50(ops, Set(k))
    }
    o.layer.foreach { case (k, x) => if (v.contains(k)) v(k) = x }
    o.setup.foreach { case (k, x) => if (v.contains(k)) v(k) = x }
    v("trace.listener_s") = rec.busyNs / 1e9
    v.toMap
  }
}
