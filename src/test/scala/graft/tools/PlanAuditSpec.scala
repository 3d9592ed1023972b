package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlanAuditSpec extends AnyFunSuite {
  test("the name filter is read wherever --executed appears") {
    assert(PlanAudit.nameFilter(Array("sf", "q_stream", "--executed")) == Some("q_stream"))
    assert(PlanAudit.nameFilter(Array("sf", "--executed", "q_stream")) == Some("q_stream"))
    assert(PlanAudit.nameFilter(Array("sf", "--executed")).isEmpty)
    assert(PlanAudit.nameFilter(Array("sf")).isEmpty)
  }
}
