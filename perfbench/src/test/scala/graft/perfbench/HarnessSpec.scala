package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed other ones") {
    val names = (1 to 30).map(i => f"q$i%02d")
    assert(Plan.queryOrder(7, names, 0) == Plan.queryOrder(7, names, 0))
    assert(Plan.queryOrder(7, names, 0) != Plan.queryOrder(8, names, 0))
    assert(Plan.queryOrder(7, names, 0).sorted == names)
    assert(Plan.churn(7, 5000, 2000, 8) == Plan.churn(7, 5000, 2000, 8))
    assert(Plan.churn(7, 5000, 2000, 8) != Plan.churn(8, 5000, 2000, 8))
    assert(Plan.evalSubset(7, 5000) == Plan.evalSubset(7, 5000))
    assert(Plan.evalSubset(7, 5000) != Plan.evalSubset(8, 5000))
  }

  test("churn rounds only ingest held-out ids and only serve what is live") {
    val rounds = Plan.churn(3, 5000, 2000, 8)
    val batches = rounds.map(_.batchDocs)
    assert(batches.flatten.distinct.size == batches.flatten.size)
    assert(batches.flatten.sorted == (0L until 5000L).filter(_ % 3 == 0))
    var live = (0L until 5000L).filter(_ % 3 != 0).toSet
    rounds.foreach { r =>
      assert(r.batchVecs == r.batchDocs.filter(_ < 2000))
      live ++= r.batchDocs
      val p = r.probes
      assert((Seq(p.lexicalTextDoc, p.bm25Doc, p.bandTextDoc, p.ivfVec,
        p.chunkDoc) ++ p.canonDocs).forall(live))
      assert(p.ivfVec < 2000)
      assert(r.forget.nonEmpty && r.forget.forall(live))
      live --= r.forget
    }
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).isEmpty) // only the median qualifies
    assert(Stats.tailPercentile(25).contains(60))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(5000).contains(99))
  }

  test("quantiles interpolate, and a failed operation is an infinite one") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.75) == 4.0)
    assert(Stats.median(Seq(1.0, Double.PositiveInfinity,
      Double.PositiveInfinity)).isInfinite)
  }

  test("driver gap is wall time minus the union of job intervals") {
    val jobs = Seq((1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (6.5, 6.8))
    assert(Stats.unionLength(jobs, 0.0, 10.0) == 4.0)
    assert(Stats.driverGap(0.0, 10.0, jobs) == 6.0)
    // jobs reaching outside the operation are clipped to it
    assert(Stats.driverGap(2.5, 6.5, jobs) == 4.0 - 2.0)
    assert(Stats.driverGap(0.0, 1.0, Nil) == 1.0)
  }

  test("jobs are attributed to the innermost layout file of their call site") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.operators.LsmLayout$.snapshot(LsmLayout.scala:170)",
      "graft.operators.BandIndex$.append(BandIndex.scala:200)",
      "graft.operators.CorpusLifecycle$.ingest(CorpusLifecycle.scala:140)")
      .mkString("\n")
    assert(Attribution.layoutOf(site).contains("band"))
    assert(Attribution.layoutOf("graft.queries.Relational$(Relational.scala:9)").isEmpty)
  }

  test("BENCHMARK.json lists exactly the metrics the harness reports") {
    val j = new ObjectMapper().readTree(
      Files.readString(Paths.get("..", "BENCHMARK.json")))
    def listed(key: String): Seq[(String, String)] =
      j.get(key).elements().asScala
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(listed("end_to_end") == Metrics.endToEnd)
    assert(listed("per_layer") == Metrics.perLayer)
    assert(j.get("workloads").elements().asScala.map(_.get("name").asText())
      .toSeq == Workloads.names)
  }
}
