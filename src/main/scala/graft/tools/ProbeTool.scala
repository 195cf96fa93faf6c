package graft.tools

import java.io.{File, PrintWriter}

import graft.SparkEntry
import graft.jobs.CrawlJob

/** Dev-only harness for the optimization loop (never invoked by the
  * driver; Bench.scala is the frozen measurement surface):
  *
  *   runMain graft.tools.ProbeTool explain <outDir> <name>[,<name>...]
  *     — write `.explain("formatted")` of each named SparkEntry query
  *       to <outDir>/<name>.txt (the plans/r06 evidence files)
  *   runMain graft.tools.ProbeTool snapshot <outDir> <name>[,<name>...]
  *     — collect each query's full result, render rows as sorted text,
  *       write to <outDir>/<name>.rows — before/after diffing proves an
  *       optimization did not change what a query computes
  *   runMain graft.tools.ProbeTool explainexec <outDir> <name>[,<name>...]
  *     — EXECUTE the query (collect), then write the final
  *       ADAPTIVE plan (`isFinalPlan=true`) to <outDir>/<name>.exec.txt —
  *       AQE join re-selection (e.g. SMJ → shuffled-hash under runtime
  *       sizes) only appears here, never in the pre-execution `explain`
  *       output
  *
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench. */
object ProbeTool {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ProbeTool explain|explainexec|snapshot <outDir> <names-csv>|all")
    val mode = args(0)
    val outDir = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    new File(outDir).mkdirs()
    val wanted = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
    val spark = CrawlJob.session(cpus, "graft-probe-tool")
    val known = SparkEntry.queries.keySet
    val unknown = wanted - "all" -- known
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here would " +
        "silently produce no evidence file and let a stale one be diffed")
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.contains("all") || wanted.contains(n) }
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      mode match {
        case "explain" =>
          val w = new PrintWriter(new File(outDir, s"$name.txt"))
          try w.write(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          finally w.close()
        case "explainexec" =>
          // collect() executes THIS df's QueryExecution (count()/noop-write
          // would build a separate one and leave this plan un-finalized)
          df.collect()
          val w = new PrintWriter(new File(outDir, s"$name.exec.txt"))
          try w.write(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          finally w.close()
        case "snapshot" =>
          val rows = df.collect().map(_.toString).sorted
          val w = new PrintWriter(new File(outDir, s"$name.rows"))
          try { w.write(s"schema: ${df.schema.treeString}\n"); rows.foreach(r => w.println(r)) }
          finally w.close()
          println(s"[probetool] $name: ${rows.length} rows")
        case other => sys.error(s"unknown mode $other")
      }
    }
    spark.stop()
  }
}
