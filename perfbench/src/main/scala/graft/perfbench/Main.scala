package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.Sessions

/** One benchmark run: one workload, one seed, one run window, traced or
  * not. Runs inside its own work directory (every relative path the
  * engine writes lands there) and writes `result.json` for the launcher:
  * the harness-side checks, the operation counts and the metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <recordsDir>
  *        Main prepare <dataDir>
  *
  * `prepare` builds, once per program and input vintage, the state that
  * every run reuses (`Workloads.prepare`).
  */
object Main {

  /** Wait (at most 3 s) until the JIT spends under 10 % of a 0.5 s
    * interval compiling, so the first timed operation does not share the
    * cores with compiler threads still working off the set-up. */
  def quiesce(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var busy = true
    while (busy && System.nanoTime() - t0 < 3e9) {
      val before = jit.getTotalCompilationTime
      Thread.sleep(500)
      busy = jit.getTotalCompilationTime - before > 50
    }
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("prepare")) {
      val spark = Sessions.local(appName = "perfbench-prepare")
      spark.sparkContext.setLogLevel("ERROR")
      try Workloads.prepare(spark, args(1)) finally spark.stop()
    } else run(args)

  private def run(args: Array[String]): Unit = {
    val Array(workload, seed, secs, trace, data, records) = args
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val traced = trace == "1"
    // deep call sites, so a job's stack reaches the layout file behind it
    System.setProperty("spark.callstack.depth", "200")
    val heap = new Heap
    val t0 = System.nanoTime()
    val spark = Sessions.local(appName = s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder
    if (traced) spark.sparkContext.addSparkListener(rec)

    val spans = new Spans
    val o = new Outcome
    val ctx = Ctx(spark, data, seed.toLong, secs.toDouble, traced, records)
    Workloads.run(workload, ctx, spans, o, () => { heap.sample(); quiesce() })
    heap.sample()
    o.heapMiB = heap.peakMiB
    val ops = spans.ops
    Metrics.derive(ops, o)
    val setupS = sessionS + o.setup.values.sum
    o.setup("setup.session_s") = sessionS

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val v = Metrics.endToEndValues(ops, o, setupS)
        Metrics.endToEnd.map { case (n, u) => (n, v(n), u) }
      } else {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val work = Attribution.perOp(rec, ops)
        val v = Metrics.perLayerValues(spans.all, o, work, rec)
        Metrics.perLayer.map { case (n, u) => (n, v(n), u) }
      }
    val failures = ops.filter(_.error.nonEmpty)
    val metricJson = metrics.map { case (n, x, u) =>
      n -> Json.obj(Seq("value" -> Json.num(x), "unit" -> Json.str(u)))
    }
    val detail = (Metrics.detail(ops, o) ++
      o.setup.toSeq.map { case (k, x) => (k, x, "s") }).map { case (n, x, u) =>
        n -> Json.obj(Seq("value" -> Json.num(x), "unit" -> Json.str(u)))
      }
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed,
      "traced" -> traced.toString,
      "attempted" -> ops.size.toString, "failed" -> failures.size.toString,
      "checks" -> Json.arr(o.checks.toSeq.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString,
          "detail" -> Json.str(d)))
      }),
      "failures" -> Json.arr(failures.map(f => Json.obj(Seq(
        "workload" -> Json.str(workload), "operation" -> Json.str(f.name),
        "error" -> Json.str(f.error.get))))),
      "metrics" -> Json.obj(metricJson),
      "detail" -> Json.obj(detail),
      "spans" -> Json.arr(spans.all.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.fold("null")(_.toString),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "ok" -> s.error.isEmpty.toString)))),
    ))
    Files.writeString(Paths.get("result.json"), result)
    spark.stop()
  }
}
