package graft.tools

class PlanAuditSpec extends graft.SparkSpecBase {
  test("the name filter is read wherever --executed appears") {
    assert(PlanAudit.nameFilter(Array("sf", "q_stream", "--executed")) == Some("q_stream"))
    assert(PlanAudit.nameFilter(Array("sf", "--executed", "q_stream")) == Some("q_stream"))
    assert(PlanAudit.nameFilter(Array("sf", "--executed")).isEmpty)
    assert(PlanAudit.nameFilter(Array("sf")).isEmpty)
  }

  test("the name filter selects exact faces and refuses an unknown one") {
    assert(PlanAudit.faces(Array("sf", "q_simhash", "--executed")) == Seq("q_simhash"))
    assert(PlanAudit.faces(Array("sf", "q_simhash_recall,q_simhash")) ==
      Seq("q_simhash", "q_simhash_recall"))
    assert(PlanAudit.faces(Array("sf")).size == graft.SparkEntry.queries.size)
    intercept[IllegalArgumentException](PlanAudit.faces(Array("sf", "q_simhsh")))
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
