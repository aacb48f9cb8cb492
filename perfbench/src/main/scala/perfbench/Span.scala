package perfbench

import java.nio.file.{Files, Path}

import perfbench.Harness.Step
import perfbench.Tracer.{covered, Recorded}

/** One traced interval: pass → query → build/exec → Spark job → stage.
  * `query` names the query every span below it belongs to. Self time is
  * the span's duration minus the part of it its children cover. */
final case class Span(id: String, parent: String, kind: String, name: String, query: String,
    startMs: Double, endMs: Double, selfS: Double = 0.0)

object Span {
  def build(pass: Int, start: Double, end: Double, steps: Seq[Step], rec: Recorded): Seq[Span] = {
    val p = s"p$pass"
    val spans = Seq.newBuilder[Span]
    spans += Span(p, null, "pass", p, null, start, end)
    val byName = steps.zipWithIndex.map { case (s, i) =>
      val q = s"$p.q$i"
      spans += Span(q, p, "query", s.name, s.name, s.buildStart, s.execEnd)
      spans += Span(s"$q.build", q, "build", s.name, s.name, s.buildStart, s.buildEnd)
      spans += Span(s"$q.exec", q, "exec", s.name, s.name, s.buildEnd, s.execEnd)
      s.name -> (q, s)
    }.toMap
    val jobParent = rec.jobs.map { j =>
      val (parent, query) = byName.get(j.group) match {
        case Some((q, s)) => (if (j.startMs < s.buildEnd) s"$q.build" else s"$q.exec", s.name)
        case None => (p, null)
      }
      spans += Span(s"$p.j${j.id}", parent, "job", s"job ${j.id}", query,
        j.startMs.toDouble, j.endMs.toDouble)
      j.id -> query
    }.toMap
    rec.stages.foreach { st =>
      spans += Span(s"$p.s${st.id}.${st.attempt}", s"$p.j${st.jobId}", "stage",
        s"stage ${st.id}.${st.attempt}", jobParent.getOrElse(st.jobId, null),
        st.submitMs.toDouble, st.endMs.toDouble)
    }
    val all = spans.result()
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.copy(selfS = ((s.endMs - s.startMs) - covered(kids, s.startMs, s.endMs)) / 1e3)
    }
  }

  def write(path: Path, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      new Json.Obj().put("id", s.id).put("parent", s.parent).put("kind", s.kind)
        .put("name", s.name).put("query", s.query).put("start_ms", s.startMs)
        .put("dur_s", (s.endMs - s.startMs) / 1e3).put("self_s", s.selfS).toJson
    }
    Files.write(path, java.util.Arrays.asList(lines: _*))
  }
}
