package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlanShapesSpec extends AnyFunSuite {

  test("pushedFilterCount counts a comparison's inner comma once") {
    assert(PlanShapes.pushedFilterCount(
      "[IsNotNull(event_type), EqualTo(event_type,purchase)]") === 2)
  }

  test("pushedFilterCount of an empty list is 0") {
    assert(PlanShapes.pushedFilterCount("[]") === 0)
    assert(PlanShapes.pushedFilterCount(" [ ] ") === 0)
  }

  test("pushedFilterCount counts a nested filter as one") {
    assert(PlanShapes.pushedFilterCount(
      "[Or(EqualTo(a,1),And(In(b, [1,2,3]),LessThan(c,2))), IsNotNull(d)]") === 2)
    assert(PlanShapes.pushedFilterCount("[IsNotNull(code)]") === 1)
  }
}
