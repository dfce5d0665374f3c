package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators._
import graft.pipeline.CorpusPipeline
import graft.queries.{CorpusFixture, Relational, Sinks}
import graft.sources.Tables
import graft.tools.ScaleCorpus

/** What one run of a workload needs: the session, the generated tables,
  * the seed, the run window and whether the run is traced. `records`
  * keeps per-seed results across runs in one checkout. */
final case class Ctx(
    spark: SparkSession, data: String, seed: Long, seconds: Double,
    traced: Boolean, records: String)

/** What a workload hands back besides its spans. */
final class Outcome {
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var timedS = 0.0
  var gateS = 0.0
  var heapMiB = 0.0
  var stealShare = 0.0

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
}

object Workloads {
  val names: Seq[String] = Seq("warehouse", "layout_churn", "corpus_batch")

  /** Builds what every run reuses, in the working directory of a JVM of
    * its own, before the first measured run: the six-layout base fixture
    * (CorpusFixture's cache under target/sinks/_fixture, which the
    * launcher then lends to each run) and the scaled corpus beside the
    * input tables. So no measured run pays for, or is warmed by, their
    * build, and both are built by the code under test. */
  def prepare(spark: SparkSession, data: String): Unit = {
    CorpusFixture.cloneBase(spark, data, "prepare_clone")
    scaledCorpus(spark, data)
  }

  /** Run workload `name`; `quiesce` runs between its set-up and its
    * timed loop, and the time it takes counts as set-up. */
  def run(name: String, c: Ctx, spans: Spans, o: Outcome,
      quiesce: () => Unit): Unit = {
    var loopEnd = 0L
    val timed = (u: Int => Unit) => {
      o.setup("setup.quiesce_s") = seconds(quiesce())
      timedLoop(c, o)(u)
      loopEnd = System.nanoTime()
    }
    name match {
      case "warehouse" => warehouse(c, spans, o, timed)
      case "layout_churn" => layoutChurn(c, spans, o, timed)
      case "corpus_batch" => corpusBatch(c, spans, o, timed)
    }
    o.gateS = (System.nanoTime() - loopEnd) / 1e9
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drop cached datasets and RDD persists between operations, so no
    * operation is served from an earlier one's cache. */
  private def sweep(spark: SparkSession): Unit = Materialize.releaseAll(spark)

  /** Closed loop over whole units (a pass, a round, an iteration): the
    * first unit always runs; another starts only if one more unit of the
    * last unit's length still ends inside the window. */
  private def timedLoop(c: Ctx, o: Outcome)(unit: Int => Unit): Unit = {
    val cpu0 = hostCpu()
    val t0 = System.nanoTime()
    var last = 0.0
    var k = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (k == 0 || elapsed + last <= c.seconds) {
      val u0 = elapsed
      unit(k)
      last = elapsed - u0
      k += 1
    }
    o.timedS = elapsed
    val cpu1 = hostCpu()
    o.stealShare = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat, (0, 0) where it
    * is absent: how much time the host withheld from this machine. */
  private def hostCpu(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  // ---------------------------------------------------------------- warehouse

  private val readRepeats = 2

  private def warehouse(
      c: Ctx, spans: Spans, o: Outcome, timed: (Int => Unit) => Unit): Unit = {
    val spark = c.spark
    val (reads, writes) = Plan.warehouseSlice(
      Relational.all.map(_.name), Sinks.all.map(_.name))
    val kindOf = (reads.map(_ -> "read") ++ writes.map(_ -> "write")).toMap
    val fns = SparkEntry.queries
    // warm-up: every query of the slice once, its result kept as parquet
    // for the oracle gate, so the timed passes start with warm codegen
    o.setup("setup.warmup_s") = seconds {
      noop(spark.range(1000000L).selectExpr("sum(id * 2) AS s"))
      (reads ++ writes).foreach { q =>
        try fns(q)(spark, c.data).write.mode("overwrite").parquet(s"gate/$q")
        catch { case e: Throwable => o.check(s"warm-up $q", ok = false, e.toString) }
        sweep(spark)
      }
    }
    val oracles = SparkEntry.oracleSql.filter { case (q, _) => kindOf.contains(q) }
    Files.writeString(Paths.get("gate/oracle_sql.json"), Json.obj(
      oracles.toSeq.sortBy(_._1).map { case (q, sql) => q -> Json.str(sql) }))
    o.check("every slice query has an oracle", oracles.size == kindOf.size,
      s"${kindOf.keySet -- oracles.keySet} have none")

    // each read runs `readRepeats` times per pass: reads are short and a
    // query's first timed run is still warming up, so with one sample per
    // query the read mean spread twice as wide across seeds
    val pass = reads.flatMap(q => Seq.fill(readRepeats)(q)) ++ writes
    timed { k =>
      Plan.queryOrder(c.seed, pass, k).foreach { q =>
        val kind = kindOf(q)
        spans.op(kind, q) { id =>
          if (c.traced) {
            val df = spans.sub(id, kind, "plan") {
              val d = fns(q)(spark, c.data)
              d.queryExecution.executedPlan
              d
            }
            spans.sub(id, kind, "exec")(noop(df))
          } else noop(fns(q)(spark, c.data))
        }
        sweep(spark)
      }
    }
  }

  // ------------------------------------------------------------- layout_churn

  private val rounds = 8

  private def layoutChurn(
      c: Ctx, spans: Spans, o: Outcome, timed: (Int => Unit) => Unit): Unit = {
    val spark = c.spark
    val docs = Tables(spark, c.data, "documents")
    val emb = Tables(spark, c.data, "embeddings")
    val nDocs = docs.count()
    val nVecs = emb.count()
    var lay: CorpusLifecycle.CorpusLayouts = null
    // the base fixture is built by `prepare` (CorpusFixture caches it
    // under target/sinks/_fixture, which the launcher lends to the run)
    // and freshly cloned for every run
    o.setup("setup.fixture_s") = seconds {
      lay = CorpusFixture.cloneBase(spark, c.data, "churn")
    }
    val fixtureRoot = Paths.get("target/sinks/_fixture")
    val before = Fingerprint.of(fixtureRoot)
    val plan = Plan.churn(c.seed, nDocs, nVecs, rounds)
    val text: Map[Long, String] = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vec: Map[Long, Seq[Double]] = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val ingested = mutable.ArrayBuffer.empty[Long]
    val forgotten = mutable.ArrayBuffer.empty[Long]

    def op(kind: String, name: String)(body: => Unit): Unit = {
      spans.op(kind, name)(_ => body)
      sweep(spark)
    }
    def ids(xs: Seq[Long]): DataFrame = docs.filter(col("doc_id").isin(xs: _*))

    timed { k =>
      if (k >= rounds) throw new IllegalStateException(s"more than $rounds rounds")
      val r = plan(k)
      op("ingest", s"ingest b$k") {
        CorpusLifecycle.ingest(
          ids(r.batchDocs).withColumn("g", col("doc_id")), "doc_id", "text",
          lay, s"b$k", groupCol = Some("g"),
          deltaVectors = Some((emb.filter(col("vec_id").isin(r.batchVecs: _*)),
            "vec_id", "embedding")))
      }
      ingested ++= r.batchDocs
      val p = r.probes
      op("probe", "lexical.pointProbe") {
        LexicalIndex.pointProbe(spark, lay.lexical.get,
          Plan.probeText(text(p.lexicalTextDoc)), 10).collect()
      }
      op("probe", "lexical.bm25TopK") {
        LexicalIndex.bm25TopK(spark, lay.lexical.get, p.bm25Doc, 10).collect()
      }
      op("probe", "band.pointProbe") {
        BandIndex.pointProbe(docs, "doc_id", "text", lay.band.get,
          text(p.bandTextDoc), 0.5).collect()
      }
      op("probe", "registry.canonicalAssignments") {
        ClusterRegistry.canonicalAssignments(spark, lay.registry.get)
          .filter(col("doc_id").isin(p.canonDocs: _*)).collect()
      }
      op("probe", "ivf.topK") {
        IvfLayout.topK(spark, lay.ivf.get, vec(p.ivfVec), nprobe = 2, k = 10)
          .collect()
      }
      op("probe", "chunks.reconstruct") {
        ChunkStore.reconstruct(spark, lay.chunks.get)
          .filter(col("doc_id") === p.chunkDoc).collect()
      }
      op("forget", s"forget f$k") {
        CorpusLifecycle.forget(ids(r.forget), "doc_id", "text", lay, s"f$k")
      }
      forgotten ++= r.forget
      // layout state at its deepest point of the round (traced runs only:
      // the metadata listing runs between operations, inside the window)
      if (c.traced) layoutState(spark, lay, o)
      op("compact", s"compact c$k")(CorpusLifecycle.compact(spark, lay))
    }

    // space: bytes under the six layout roots per byte of live input
    val live = ((0L until nDocs).filter(_ % 3 != 0) ++ ingested)
      .filterNot(forgotten.toSet)
    val liveText = live.map(i => text(i).getBytes("UTF-8").length.toLong).sum
    val liveVecBytes = live.filter(vec.contains).map(i => vec(i).size * 4L).sum
    o.layer("bytes_per_live_byte") =
      layoutBytes(spark, lay).values.sum.toDouble / (liveText + liveVecBytes)

    // correctness gate: the three corpus audits, from the serving paths,
    // run concurrently (independent read-only jobs)
    import spark.implicits._
    val liveIngested = ingested.filterNot(forgotten.toSet).toSeq
    val audits = Seq(
      () => CorpusLifecycle.consistencyAudit(spark, lay,
        Some((live.toDF("doc_id"), "doc_id"))).collect(),
      () => CorpusLifecycle.forgetAudit(spark, lay,
        forgotten.toSeq.toDF("doc_id"), "doc_id").collect(),
      () => CorpusLifecycle.ingestAudit(spark, lay,
        liveIngested.toDF("doc_id"), "doc_id").collect())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(audits.size)
    val Seq(consistency, forgets, ingests) =
      try audits.map(a => pool.submit(
        new java.util.concurrent.Callable[Array[org.apache.spark.sql.Row]] {
          def call() = a()
        })).map(_.get())
      finally pool.shutdown()
    consistency.foreach { r =>
      o.check(s"consistency ${r.getString(0)}",
        r.getLong(1) == 0L && r.getLong(2) == 0L,
        s"missing ${r.getLong(1)} extra ${r.getLong(2)}")
    }
    forgets.foreach { r =>
      o.check(s"forget ${r.getString(0)}", r.getLong(1) == 0L,
        s"${r.getLong(1)} forgotten ids served")
    }
    ingests.foreach { r =>
      val want =
        if (r.getString(0) == "ivf") liveIngested.count(_ < nVecs)
        else liveIngested.size
      o.check(s"ingest ${r.getString(0)}", r.getLong(1) == want.toLong,
        s"served ${r.getLong(1)} of $want ingested ids")
    }
    val after = Fingerprint.of(fixtureRoot)
    o.check("base fixture unchanged", before == after,
      Fingerprint.diff(before, after))
  }

  private def layoutPaths(lay: CorpusLifecycle.CorpusLayouts): Seq[(String, String)] =
    Attribution.layouts.zip(Seq(lay.registry, lay.band, lay.lexical, lay.kmv, lay.ivf,
      lay.chunks).map(_.get))

  private def layoutBytes(
      spark: SparkSession, lay: CorpusLifecycle.CorpusLayouts): Map[String, Long] =
    layoutPaths(lay).map { case (l, p) =>
      l -> LsmLayout.dirBytes(spark, p, Seq(""), prefix = "")
    }.toMap

  /** Live generations and bytes per layout, and pending tombstones. */
  private def layoutState(
      spark: SparkSession, lay: CorpusLifecycle.CorpusLayouts, o: Outcome): Unit = {
    val relation = Map(
      "registry" -> ("assignments", "batch="), "band" -> ("sigs", "gen="),
      "lexical" -> ("lexicon", "gen="), "kmv" -> ("sketches", "batch="),
      "ivf" -> ("vectors", "gen="), "chunks" -> ("manifest", "gen="))
    val bytes = layoutBytes(spark, lay)
    var pending = 0L
    layoutPaths(lay).foreach { case (l, p) =>
      val (dir, prefix) = relation(l)
      o.layer(s"operators.layouts.$l.live_generations") =
        LsmLayout.liveGenerationCount(spark, p, s"$p/$dir", prefix).toDouble
      o.layer(s"operators.layouts.$l.bytes") = bytes(l).toDouble
      pending += LsmLayout.pendingTombstones(spark, p, LsmLayout.snapshot(spark, p))
        .map(_.count()).getOrElse(0L)
    }
    o.layer("operators.layouts.pending_tombstones") = pending.toDouble
  }

  // ------------------------------------------------------------- corpus_batch

  /** Copies per base doc in the scaled corpus: data-sized, yet one
    * warm-up and one timed iteration fit the run's time budget. */
  private val scaleCopies = 5

  /** The scaled corpus (5 salted copies per doc, 25,000 docs at sf 0.1):
    * input data derived deterministically from the generated tables,
    * built beside them unless already there. Its `_done` marker holds the
    * build's seconds. Returns its directory. */
  private def scaledCorpus(spark: SparkSession, data: String): String = {
    val dir = s"$data/scale${scaleCopies}x"
    if (!Files.exists(Paths.get(dir, "_done"))) {
      var built = ""
      val s = seconds { built = ScaleCorpus.build(spark, data, scaleCopies) }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      Files.move(Paths.get(built), Paths.get(dir))
      Files.writeString(Paths.get(dir, "_done"), s.toString)
    }
    dir
  }

  private def corpusBatch(
      c: Ctx, spans: Spans, o: Outcome, timed: (Int => Unit) => Unit): Unit = {
    val spark = c.spark
    val scaledDir = scaledCorpus(spark, c.data)
    o.layer("setup.scale_corpus_s") =
      Files.readString(Paths.get(scaledDir, "_done")).trim.toDouble
    val docs1 = Tables(spark, c.data, "documents")
    val docs = Tables(spark, scaledDir, "documents")
    val nInput = docs.count()
    val eval = docs1.filter(col("doc_id").isin(
      Plan.evalSubset(c.seed, docs1.count()): _*))
    // warm-up: one trainingSet on the same input (dropProvenance shares
    // its stage plans), so the timed calls run on warm codegen
    o.setup("setup.warmup_s") = seconds {
      CorpusPipeline.trainingSet(docs, eval).write.mode("overwrite")
        .parquet("batch/warm_train")
      sweep(spark)
    }
    var iterations = 0
    timed { i =>
      spans.op("train", s"trainingSet $i") { _ =>
        CorpusPipeline.trainingSet(docs, eval).write.mode("overwrite")
          .parquet(s"batch/train_$i")
      }
      sweep(spark)
      spans.op("provenance", s"dropProvenance $i") { _ =>
        CorpusPipeline.dropProvenance(docs, eval).write.mode("overwrite")
          .parquet(s"batch/prov_$i")
      }
      sweep(spark)
      iterations += 1
    }
    // the gate reads every iteration's output back after the timed loop
    val results = (0 until iterations).map { i =>
      val rows = spark.read.parquet(s"batch/train_$i").count()
      val verdicts = spark.read.parquet(s"batch/prov_$i").groupBy("verdict")
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (rows, verdicts)
    }
    val (rows, verdicts) = results.head
    val kept = verdicts.getOrElse("kept", 0L)
    o.check("trainingSet rows == dropProvenance kept", rows == kept,
      s"$rows rows vs $kept kept")
    o.check("provenance labels every input doc", verdicts.values.sum == nInput,
      s"${verdicts.values.sum} labels for $nInput docs")
    o.check("identical across iterations", results.distinct.size == 1,
      results.distinct.mkString("; "))
    val record = Json.obj(Seq("train_rows" -> rows.toString) ++
      verdicts.toSeq.sorted.map { case (k, v) => k -> v.toString })
    val recFile = Paths.get(c.records,
      s"corpus_batch-scale${scaleCopies}x-seed${c.seed}.json")
    if (Files.exists(recFile)) {
      val prev = Files.readString(recFile)
      o.check("identical to earlier runs at this seed", prev == record,
        s"$prev vs $record")
    } else {
      Files.createDirectories(recFile.getParent)
      Files.writeString(recFile, record)
    }
    o.layer("pipeline.kept_per_input") = kept.toDouble / nInput
    o.layer("input_docs") = nInput.toDouble

    if (c.traced) {
      // the trainingSet decomposition: the same standalone calls on the
      // same input, each stage materialized before the next is timed
      val tok = Materialize.shared(
        docs.withColumn("ws", TextOps.tokens(col("text"))).select("doc_id", "ws"))
      o.layer("operators.batch.tokenize_s") = seconds(noop(tok))
      val pairs = Materialize.shared(MinHashNearDup.nearDupPairsFromTokens(tok, 0.8))
      o.layer("operators.batch.pairs_s") = seconds {
        o.layer("pipeline.pairs") = pairs.count().toDouble
      }
      o.layer("operators.batch.clusters_s") = seconds(
        noop(DedupClusters.keepOnePerCluster(pairs, "id_a", "id_b")))
      sweep(spark)
    }
  }
}

/** Paths, sizes and mtimes of every file under a tree. */
object Fingerprint {
  def of(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally walk.close()
    }

  def diff(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]): String =
    (a.keySet ++ b.keySet).toSeq.sorted.filter(k => a.get(k) != b.get(k))
      .take(5).map(k => s"$k: ${a.get(k)} -> ${b.get(k)}").mkString("; ")
}
