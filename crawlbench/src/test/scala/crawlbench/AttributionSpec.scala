package crawlbench

import graft.frontier.Scheduler
import graft.jobs.CrawlJob
import graft.synth.SyntheticWeb

class AttributionSpec extends SparkSuite {
  test("call sites attribute by module file and method name, never by line") {
    val site = "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)\n" +
      "graft.frontier.CuckooFilter$.build(CuckooFilter.scala:88)\n" +
      "graft.jobs.CrawlJob$.run(CrawlJob.scala:700)"
    assert(Attribution.layerOf(site, "") == "frontier.seen")
    assert(Attribution.layerOf(site.replace(":88)", ":9999)"), "") == "frontier.seen")
    val local = "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1)\n" +
      "graft.jobs.CrawlJob$.bloomAdd$1(CrawlJob.scala:610)\ngraft.jobs.CrawlJob$.run(CrawlJob.scala:900)"
    assert(Attribution.layerOf(local, "") == "frontier.seen")
    assert(Attribution.layerOf("graft.jobs.CrawlJob$.run(CrawlJob.scala:900)", "") == "frontier.schedule")
    assert(Attribution.layerOf("", "") == "unattributed")
  }

  test("a write job is attributed by the table it targets") {
    val plan = "== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- Execute InsertIntoHadoopFsRelationCommand (8)\n\n" +
      "(8) Execute InsertIntoHadoopFsRelationCommand\nInput [2]: [url#1, markdown#2]\n" +
      "Arguments: file:/tmp/wd/data/v3/results, false, Parquet, [path=/tmp/wd/data/v3/results], Overwrite\n"
    assert(Attribution.writeTarget(plan).contains("results"))
    assert(Attribution.layerOf("graft.jobs.CrawlJob$.run(CrawlJob.scala:1)", plan) == "extract")
    assert(Attribution.layerOf("", plan.replace("v3/results", "v3/carry")) == "checkpoint")
  }

  test("on a tiny crawl every job is attributed and layers plus driver gap sum to each round") {
    val site = scratch.resolve("site").toString
    val wd = scratch.resolve("wd").toString
    SyntheticWeb.generate(spark, site, 400, 6, 3L, partitions = 2, withExpectedText = false,
      withRedirects = true, withFaults = true)
    val tracer = Tracer.install(spark)
    val cfg = Scheduler.Config(seenTtlRounds = Some(2), seenSketch = "cuckoo", expireBeyondTtl = true)
    val last = CrawlJob.run(spark, site, wd, cfg, maxRounds = 4, bloomThreshold = 20L)
    Tracer.drain(spark)
    val jobs = tracer.jobs()
    val rounds = Rounds.read(wd, 0 to last)
    assert(rounds.size >= 3)
    val inRounds = jobs.filter(j => rounds.exists(r => j.start >= r.startMs && j.start < r.commitMs))
    assert(inRounds.nonEmpty)
    val unknown = inRounds.filter(j => j.layer == "unattributed" || j.layer == "bench")
    assert(unknown.isEmpty, unknown.map(j => s"job ${j.id}: ${j.site.take(200)}").mkString("\n"))
    assert(inRounds.exists(_.layer == "extract"), "the results write is attributed to extract")
    rounds.foreach { r =>
      val (layers, gap) = Rounds.split(jobs, r.startMs, r.commitMs.toDouble)
      assert(gap >= 0.0 && layers.values.forall(_ >= 0.0))
      assert(math.abs(layers.values.sum + gap - r.elapsedSec) < 1e-6,
        s"round ${r.version}: ${layers.values.sum} + $gap != ${r.elapsedSec}")
    }
  }
}
