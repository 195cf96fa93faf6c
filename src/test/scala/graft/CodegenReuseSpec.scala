package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics

import graft.jobs.CrawlJob
import graft.synth.SyntheticWeb

/** A steady crawl round plans the same queries as the round before it,
  * so it must find every generated class in Spark's codegen cache and
  * compile none. Two things break that: a per-round value inlined into
  * generated source as a literal (every round's class is then new), and
  * a codegen cache smaller than one round's working set (the LRU then
  * evicts each class before the next round asks for it).
  *
  * The codegen cache is JVM-global and sized by the first query that
  * generates code, so this suite runs in a JVM of its own whose first
  * session is `CrawlJob.session` (build.sbt's test grouping). */
class CodegenReuseSpec extends AnyFunSuite {

  private lazy val spark = CrawlJob.session(4, "graft-codegen-reuse")

  /** Classes compiled so far in this JVM (one histogram sample each). */
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("steady crawl rounds compile no generated classes") {
    val site = java.nio.file.Files.createTempDirectory("graft_cg_site").toString
    val wd = java.nio.file.Files.createTempDirectory("graft_cg_wd").toString
    SyntheticWeb.generate(spark, site, 1200, 8, seed = 5L, partitions = 4,
      withRedirects = true, withFaults = true)
    // the benchmark's polite shape: reference host rates, redirect and
    // fault tables, cuckoo sketch with a seen TTL and expiry
    val cfg = graft.frontier.Scheduler.Config(seenTtlRounds = Some(1),
      seenSketch = "cuckoo", expireBeyondTtl = true)
    // rounds 0-1 warm the cache; each later round resumes on its own so
    // the counter brackets exactly one round
    CrawlJob.run(spark, site, wd, cfg, maxRounds = 2, bloomThreshold = 20L)
    val perRound = (2 until 6).map { r =>
      val before = compiled
      val last = CrawlJob.run(spark, site, wd, cfg, maxRounds = r + 1, bloomThreshold = 20L)
      assert(last == r, s"crawl ended before round $r")
      compiled - before
    }
    println(s"[codegen] classes compiled per round 2-5: ${perRound.mkString(", ")}")
    // rounds 2-3 may still run a plan shape for the first time (20 and
    // 37 classes when this suite runs alone); rounds 4-5 repeat shapes
    assert(perRound.drop(2).forall(_ == 0L),
      s"steady rounds compiled generated classes: ${perRound.mkString(", ")}")
  }
}
