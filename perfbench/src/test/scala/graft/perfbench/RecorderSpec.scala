package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite {

  test("a throwing operation is counted as failed and not timed") {
    val rec = new Recorder
    rec.pass = 0
    val ok = rec.timedOp("fine", "rel")(rec.span("build")(42))
    val bad = rec.timedOp("broken", "rel") {
      rec.span("build")(throw new IllegalStateException("boom"))
    }
    assert(ok.contains(42))
    assert(bad.isEmpty)
    val Seq(good, failed) = rec.ops.toSeq
    assert(good.ok && good.ms >= 0.0)
    assert(!failed.ok && failed.ms.isNaN && failed.error.contains("boom"))
  }

  test("spans nest under the open span and share its operation id") {
    val rec = new Recorder
    rec.pass = 3
    rec.span("protocol") {
      rec.span("gen")(())
      rec.span("validate")(rec.span("inner")(()))
    }
    rec.span("protocol")(())
    val byName = rec.spans.groupBy(_.name)
    val Seq(p1, p2) = byName("protocol").toSeq.sortBy(_.id)
    assert(p1.parent == -1 && p1.op == p1.id)
    assert(byName("gen").head.parent == p1.id)
    assert(byName("inner").head.parent == byName("validate").head.id)
    assert(rec.spans.filter(_.op == p1.id).map(_.name).toSet ==
      Set("protocol", "gen", "validate", "inner"))
    assert(p2.op == p2.id && rec.spans.forall(_.pass == 3))
    rec.spans.foreach(s => assert(s.endMs >= s.startMs))
  }

  test("annotate attaches attributes to the span that just closed") {
    val rec = new Recorder
    rec.span("bfs.search")(())
    val first = rec.spans.size - 1
    rec.span("bfs.search")(())
    rec.annotate(first, Map("levels" -> 5))
    val Seq(a, b) = rec.spans.toSeq.sortBy(_.id)
    assert(a.attrs == Map("levels" -> 5) && b.attrs.isEmpty)
  }
}
