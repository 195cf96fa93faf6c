package crawlbench

import java.nio.file.{Files, Paths}

import graft.jobs.CrawlJob

/** Entry point: one workload, one seed, one JVM on local[nproc].
  *
  *   crawlbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--spans FILE]
  *
  * Prints, as its last stdout line, `CRAWLBENCH_RESULT <json>` with the
  * metrics, the operations attempted, the output digest and any broken
  * invariant; `run.py` compares the digest with the recorded one. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "crawl_bulk" -> Crawl.Bulk.run,
    "crawl_polite" -> Crawl.Polite.run)

  def main(args: Array[String]): Unit = {
    Stamps.resetPeak()
    val start = Stamps.now()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val traced = opts.get("trace").contains("1")
    val cpus = Runtime.getRuntime.availableProcessors
    val root = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(root)
    val spark = CrawlJob.session(cpus, s"crawlbench-$workload")
    val ctx = new Ctx(spark, seed, opts("seconds").toDouble,
      if (traced) Some(Tracer.install(spark)) else None, root, cpus, start)
    val result = try {
      val out = run(ctx)
      val perLayer = if (!traced) Map.empty[String, Metric] else {
        val layer = (Layers.zeros(Layers.CrawlKeys) ++ Layers.zeros(Layers.DedupKeys)) ++ out.perLayer ++
          Layers.noise(ctx) ++ Layers.perPage(seed) ++
          out.endToEnd.map { case (k, m) => s"traced.$k" -> m }
        opts.get("spans").foreach(f => Spans.write(f, workload, ctx, out.rounds))
        layer
      }
      summary(workload, out, ctx)
      Json.obj(
        "workload" -> Json.str(workload),
        "attempted" -> out.attempted.toString,
        "digest" -> Json.str(out.digest),
        "problems" -> Json.arr(out.problems.map(Json.str)),
        "metrics" -> Json.obj((out.endToEnd ++ perLayer).toSeq.sortBy(_._1).map { case (k, m) =>
          k -> Json.obj("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)) }: _*))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Json.obj("workload" -> Json.str(workload), "error" -> Json.str(s"${e.getClass.getName}: ${e.getMessage}"))
    } finally spark.stop()
    println("CRAWLBENCH_RESULT " + result)
  }

  /** Human-readable line on stderr, with the counters every run reports. */
  private def summary(workload: String, out: Outcome, ctx: Ctx): Unit = {
    val e = out.endToEnd.toSeq.sortBy(_._1).map { case (k, m) => f"$k=${m.value}%.4f ${m.unit}" }.mkString(", ")
    // per round: scheduled urls / seconds, E for an epoch boundary, and the
    // cumulative cuckoo delete and rebuild counters where the sketch runs
    val rounds = out.rounds.map { r =>
      val epoch = if (r.epochBoundary) "E" else ""
      val sk = if (r.metrics.contains("cuckoo_expired_deletes"))
        f"(d${r.m("cuckoo_expired_deletes")}%.0f,r${r.m("cuckoo_expiry_rebuilds")}%.0f)" else ""
      f"v${r.version}:${r.m("scheduled")}%.0f/${r.elapsedSec}%.2fs$epoch$sk"
    }.mkString(" ")
    val sketch = out.rounds.lastOption.map(r =>
      f" sketch_deletes=${r.m("cuckoo_expired_deletes")}%.0f sketch_rebuilds=${r.m("cuckoo_expiry_rebuilds")}%.0f")
      .getOrElse("")
    val noise = Layers.noise(ctx).toSeq.sortBy(_._1).map { case (k, m) => f"$k=${m.value}%.1f" }.mkString(" ")
    System.err.println(s"[crawlbench] $workload: $e attempted=${out.attempted}$sketch rounds=[$rounds] $noise")
  }
}

/** Minimal JSON writer: enough for flat metric maps and string lists. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
