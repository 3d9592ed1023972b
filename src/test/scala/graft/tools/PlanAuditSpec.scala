package graft.tools

class PlanAuditSpec extends graft.SparkSpecBase {
  test("the name filter is read wherever --executed appears") {
    assert(PlanAudit.nameFilter(Array("sf", "q_stream", "--executed")) == Some("q_stream"))
    assert(PlanAudit.nameFilter(Array("sf", "--executed", "q_stream")) == Some("q_stream"))
    assert(PlanAudit.nameFilter(Array("sf", "--executed")).isEmpty)
    assert(PlanAudit.nameFilter(Array("sf")).isEmpty)
  }

  test("execLines holds every action the body ran once it returns") {
    (1 to 20).foreach { i =>
      val (ck, lines) = PlanAudit.execLines(spark)(
        spark.range(1000).toDF().repartition(4).localCheckpoint())
      try assert(lines.count(_.contains("exec: localCheckpoint")) == 1,
        s"repetition $i: $lines")
      finally graft.operators.IterCheckpoint.free(ck)
    }
  }
}
