package crawlbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One local[2] session per suite, created through the engine's own
  * session factory (the configuration the benchmark runs with). */
abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = graft.jobs.CrawlJob.session(2, getClass.getSimpleName)
  protected lazy val scratch: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(getClass.getSimpleName)

  override def afterAll(): Unit = {
    spark.stop()
    graft.util.LocalFs.deleteRecursively(scratch)
    super.afterAll()
  }
}
