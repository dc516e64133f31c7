package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ReportSpec extends AnyFunSuite {

  test("spans link to their parent operation") {
    val op = Span(1, 0, "op", "entry", 0, 100)
    val build = Span(2, 1, "build", "entry", 0, 60)
    val result = Span(3, 1, "result", "entry", 60, 100)
    val exec = (id: Int) => Map(JobListener.ExecutionId -> id.toString)
    val outer = Span(4, -1, "sql", "sql-0", 5, 55, tags = exec(0))
    val inner = Span(5, -1, "sql", "sql-1", 10, 30, tags = exec(1))
    // a job carries its operation's id and its SQL execution's; outside
    // SQL it lands in the phase holding its start
    val jobIn = Span(6, 1, "job", "job-0", 12, 28, tags = exec(1))
    val jobOut = Span(7, 1, "job", "job-1", 70, 90)
    val batch = Span(8, -1, "microbatch", "batch", 65, 80)
    val other = Span(9, 0, "op", "next", 200, 300)
    val lateJob = Span(10, 9, "job", "job-2", 210, 220)
    val early = Span(11, 1, "job", "job-3", -0.5, 3)
    val linked = Report.link(Seq(op, build, result, outer, inner, jobIn,
      jobOut, batch, other, lateJob, early)).map(s => s.id -> s.parent).toMap
    assert(linked(4) === 2L)
    assert(linked(5) === 4L)
    assert(linked(6) === 5L)
    assert(linked(7) === 3L)
    assert(linked(8) === 3L)
    assert(linked(10) === -1L, "a job outside its operation's phases stays unlinked")
    assert(linked(11) === 2L, "a job stamped just before its operation joins the first phase")
  }

  test("the layer-sum check fails on a job or micro-batch outside its operation or unlinked") {
    val op = Span(1, 0, "op", "entry", 0, 100)
    val phases = Seq(Span(2, 1, "build", "entry", 0, 60), Span(3, 1, "result", "entry", 60, 100))
    val sql = Span(4, -1, "sql", "sql-4", 10, 50, tags = Map(JobListener.ExecutionId -> "4"))
    val inside = Seq(op, sql, Span(5, 1, "job", "job-0", 12, 40, tags = sql.tags),
      Span(6, 1, "job", "job-1", 70, 100.5), Span(7, -1, "microbatch", "batch-0", 20, 55)) ++ phases
    assert(Report.layerCheck(inside) === Nil)
    // a job that outlives its operation (a stream left running)
    val late = Report.layerCheck(inside :+ Span(8, 1, "job", "job-2", 90, 130))
    assert(late.size === 1 && late.head.contains("job-2") && late.head.contains("outside"))
    // a job submitted before its operation began
    assert(Report.layerCheck(inside :+ Span(8, 1, "job", "job-2", -5, 10)).size === 1)
    // a micro-batch that starts inside the operation and ends after it
    assert(Report.layerCheck(inside :+ Span(8, -1, "microbatch", "batch-1", 80, 140)).size === 1)
    // a job without the operation property, and a SQL execution outside every operation
    val orphans = Report.layerCheck(inside ++ Seq(Span(8, -1, "job", "job-3", 20, 30),
      Span(9, -1, "sql", "sql-9", 150, 160)))
    assert(orphans.size === 2 && orphans.forall(_.contains("links to no operation")))
    // a job naming this operation whose SQL execution ran under another one
    val next = Seq(Span(10, 0, "op", "next", 200, 300), Span(11, 10, "build", "next", 200, 300),
      Span(12, -1, "sql", "sql-12", 210, 250, tags = Map(JobListener.ExecutionId -> "12")))
    val crossed = Report.layerCheck(inside ++ next :+
      Span(13, 1, "job", "job-4", 20, 30, tags = Map(JobListener.ExecutionId -> "12")))
    assert(crossed.exists(_.contains("sits under 10")))
  }

  test("self time subtracts the part children cover") {
    val spans = Seq(Span(1, 0, "op", "o", 0, 100), Span(2, 1, "build", "o", 0, 40),
      Span(3, 1, "result", "o", 40, 100), Span(4, 3, "job", "j", 50, 70),
      Span(5, 3, "job", "j", 60, 80))
    val self = Report.selfTimes(spans)
    assert(self("op") === 0.0)
    assert(self("result") === 0.03)
    assert(math.abs(self("job") - 0.04) < 1e-9)
  }

  test("union and nearest-rank percentiles") {
    assert(Report.union(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) === 4.0)
    assert(Report.pct((1 to 20).map(_.toDouble), 50) === 10.0)
    assert(Report.pct((1 to 20).map(_.toDouble), 75) === 15.0)
  }
}
