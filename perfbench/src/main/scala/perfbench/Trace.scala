package perfbench

import java.io.File

/** Spans of the traced run: pass → phase or query → Spark job → stage
  * → enrichment stub call. Kept in memory, written once. Self time is
  * a span's length minus the union of its children's. */
object Trace {
  final case class Span(id: String, parent: String, layer: String, startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }

  /** Job and stage spans from the listener, and the stub's call spans,
    * parented through job groups and stage ids. */
  def sparkSpans(obs: Observer, calls: java.util.Collection[(Int, Long, Long)]): Seq[Span] = {
    import scala.jdk.CollectionConverters._
    val jobs = obs.synchronized(obs.jobSpans.toSeq)
    val stageParent = jobs.flatMap(j => j.stages.map(_ -> s"job${j.jobId}")).toMap
    val stages = obs.synchronized(obs.stages.toSeq)
    val offMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    jobs.map(j => Span(s"job${j.jobId}", j.group, "spark", j.startMs, j.endMs)) ++
      stages.map(s => Span(s"stage${s.stageId}", stageParent.getOrElse(s.stageId, ""), "spark",
        s.startMs, s.endMs)) ++
      calls.asScala.toSeq.zipWithIndex.map { case ((stage, t0, t1), i) =>
        Span(s"call$i", s"stage$stage", "graft.enrich", t0 / 1e6 + offMs, t1 / 1e6 + offMs)
      }
  }

  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var end = Double.NegativeInfinity
      kids.foreach { case (a, b) =>
        if (b > end) { covered += b - (a max end); end = b }
      }
      s.id -> (s.ms - covered)
    }.toMap
  }

  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfMs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e3 }
  }

  def write(f: File, spans: Seq[Span]): Unit = {
    val self = selfMs(spans)
    Json.write(f, Json.arr(spans.map { s =>
      val o = new Json.Obj
      o.put("id", s.id); o.put("parent", s.parent); o.put("layer", s.layer)
      o.put("start_ms", s.startMs); o.put("dur_ms", s.ms); o.put("self_ms", self(s.id))
      o
    }))
  }
}

/** The traced pass as a phase table in the layout of the reference's
  * published run (extract, transform, enrich, load; rows/s per table). */
object PhaseTable {
  def render(workload: String, shape: Main.Shape, t: GenMovieLens.Truth,
             traced: Main.Pass, fused: Main.Pass): String = {
    val ph = Seq("extract", "transform", "enrich", "load", "metrics", "readback")
    val total = ph.map(traced.phaseS.getOrElse(_, 0.0)).sum
    val sb = new StringBuilder
    sb ++= s"Phase table, $workload (traced pass; each phase forced on its own)\n"
    if (shape.latencyMs > 0)
      sb ++= f"Stub latency ${shape.latencyMs}%d ms per call, 1/100 of the reference's ~2 s " +
        "per OMDb call: compare shares and call counts, not seconds.\n"
    sb ++= "| Phase | Wall s | Share |\n|---|---|---|\n"
    ph.foreach { p =>
      val s = traced.phaseS.getOrElse(p, 0.0)
      sb ++= f"| $p | $s%.3f | ${100 * s / total}%.1f%% |\n"
    }
    sb ++= f"| sum of phases | $total%.3f | |\n| fused pass (wall_s) | ${fused.wallS}%.3f | |\n"
    sb ++= s"\n| Table | Rows | Load s | Rows/s (${if (shape.jdbc) "Derby JDBC" else "parquet"}) |\n|---|---|---|---|\n"
    Seq("movies" -> t.movies, "genres" -> t.genres, "movie_genres" -> t.movieGenres,
      "ratings" -> t.ratingsClean).foreach { case (tb, n) =>
      val s = traced.tableS.getOrElse(tb, Double.NaN)
      sb ++= f"| $tb | $n%d | $s%.3f | ${n / s}%.0f |\n"
    }
    sb ++= f"\nEnrichment: ${traced.stub("calls")}%.0f calls for ${traced.attemptedRows}%d rows, " +
      f"success ${100 * traced.successRatio}%.1f%% (reference: 99.2%%).\n"
    sb.toString
  }
}
