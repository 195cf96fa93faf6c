package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.jobs.CrawlJob
import graft.synth.SyntheticWeb

/** What a steady crawl round costs in Spark jobs, counted by a listener.
  * Each round runs in a resumed `CrawlJob.run` call of its own; the
  * round's jobs are that call's minus the jobs of a call that resumes
  * the same state and runs no round (the same set-up). A round reads
  * every table the engine wrote with the schema it was written with, so
  * none of its jobs is a reader's schema inference or file listing. */
class RoundJobsSpec extends AnyFunSuite {

  private lazy val spark = CrawlJob.session(4, "graft-round-jobs")

  /** First line of each job's call site: the Spark method user code
    * called, e.g. `...DataFrameReader.parquet(...)`. */
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  test("a steady polite round runs at most 33 Spark jobs, none of them a read's metadata job") {
    val site = java.nio.file.Files.createTempDirectory("graft_jobs_site").toString
    val wd = java.nio.file.Files.createTempDirectory("graft_jobs_wd").toString
    SyntheticWeb.generate(spark, site, 1200, 8, seed = 5L, partitions = 4,
      withRedirects = true, withFaults = true)
    val cfg = graft.frontier.Scheduler.Config(seenTtlRounds = Some(1),
      seenSketch = "cuckoo", expireBeyondTtl = true)
    CrawlJob.run(spark, site, wd, cfg, maxRounds = 2, bloomThreshold = 20L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.maxBy(_.stageId).details.linesIterator.nextOption().getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    def jobsOf(maxRounds: Int): Seq[String] = {
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      jobs.clear()
      CrawlJob.run(spark, site, wd, cfg, maxRounds = maxRounds, bloomThreshold = 20L)
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      jobs.toArray(Array.empty[String]).toSeq
    }
    val perRound = try (2 until 6).map { r =>
      val setUp = jobsOf(r) // resumes before round r and stops there
      jobsOf(r + 1).diff(setUp)
    } finally spark.sparkContext.removeSparkListener(listener)
    println(s"[jobs] Spark jobs per round 2-5: ${perRound.map(_.size).mkString(", ")}")
    perRound.zipWithIndex.foreach { case (js, i) =>
      assert(js.size <= 33, s"round ${i + 2} ran ${js.size} jobs")
      val reads = js.filter(_.contains("DataFrameReader"))
      assert(reads.isEmpty, s"round ${i + 2} ran metadata jobs for reads: $reads")
    }
    // rounds 2 and 4 start an epoch and take the fast path: their epoch
    // assign and link frontier each shuffle their rows once, by host
    Seq(0, 2).foreach { i =>
      assert(perRound(i).size <= 22, s"fast-path round ${i + 2} ran ${perRound(i).size} jobs")
    }
    // rounds 2 and 4 start an epoch and take the fast path, rounds 3 and
    // 5 the general path: rounds of one kind run the same number of jobs
    assert(perRound(0).size == perRound(2).size && perRound(1).size == perRound(3).size,
      s"rounds of one kind ran different numbers of jobs: ${perRound.map(_.size).mkString(", ")}")
    // the general path's batch and candidate counts ride its lineage job
    assert(perRound(1).size <= perRound(0).size && perRound(3).size <= perRound(2).size,
      s"general-path rounds ran more jobs than fast-path ones: ${perRound.map(_.size).mkString(", ")}")
  }
}
