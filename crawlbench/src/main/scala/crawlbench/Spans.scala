package crawlbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the traced run's spans as JSON lines once the run ends:
  * run → call (harness call into a layer) → round → job → stage. Each
  * span names its parent; times are epoch milliseconds. */
object Spans {
  def write(file: String, workload: String, ctx: Ctx, rounds: Seq[RoundInfo]): Unit = {
    Tracer.drain(ctx.spark)
    val jobs = ctx.tracer.map(_.jobs()).getOrElse(Nil)
    val lines = Seq.newBuilder[String]
    def span(id: String, kind: String, name: String, layer: String, start: Double, end: Double,
             parent: Option[String], extra: (String, String)*): Unit =
      lines += Json.obj((Seq("id" -> Json.str(id), "kind" -> Json.str(kind), "name" -> Json.str(name),
        "layer" -> Json.str(layer), "start_ms" -> Json.num(start), "end_ms" -> Json.num(end),
        "parent" -> parent.map(Json.str).getOrElse("null")) ++ extra): _*)
    val runStart = ctx.jvmStartMs.toDouble
    val runEnd = System.currentTimeMillis().toDouble
    span("run", "run", workload, "bench", runStart, runEnd, None)
    val calls = ctx.calls.zipWithIndex.map { case (c, i) => (s"call$i", c) }
    calls.foreach { case (id, c) => span(id, "call", c.name, c.layer, c.start.toDouble, c.end.toDouble, Some("run")) }
    def callOf(t: Double) = calls.find { case (_, c) => c.start <= t && t <= c.end }.map(_._1).getOrElse("run")
    val roundIds = rounds.map { r =>
      val id = s"round${r.version}"
      span(id, "round", s"round ${r.version}", "crawl", r.startMs, r.commitMs.toDouble, Some(callOf(r.startMs)))
      (id, r)
    }
    jobs.foreach { j =>
      val parent = roundIds.find { case (_, r) => r.startMs <= j.start && j.start < r.commitMs }
        .map(_._1).getOrElse(callOf(j.start.toDouble))
      // the evidence the attribution used: innermost engine frame and
      // the write target, if any
      val frame = Attribution.frames(j.site).find(f => f.cls.startsWith("graft."))
        .map(f => s"${f.file}.${f.method}").getOrElse("")
      span(s"job${j.id}", "job", s"job ${j.id}", j.layer, j.start.toDouble, j.end.toDouble, Some(parent),
        "frame" -> Json.str(frame), "target" -> j.target.map(Json.str).getOrElse("null"))
      j.stages.foreach(s => span(s"stage${s.id}", "stage", s"stage ${s.id}", j.layer, s.start.toDouble, s.end.toDouble,
        Some(s"job${j.id}")))
    }
    val path = Paths.get(file)
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.write(path, lines.result().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
