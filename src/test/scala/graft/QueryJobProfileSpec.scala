package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.QueryJobProfile.unionLength

/** The driver gap QueryJobProfile prints is wall time minus the union of
  * the job intervals, so jobs that run side by side count once.
  */
class QueryJobProfileSpec extends AnyFunSuite {

  test("unionLength: disjoint intervals add, overlapping and nested ones count once") {
    assert(unionLength(Nil) == 0L)
    // disjoint, in any order
    assert(unionLength(Seq((10L, 20L), (0L, 5L))) == 15L)
    // overlapping: [0, 10] ∪ [5, 15] = [0, 15]
    assert(unionLength(Seq((5L, 15L), (0L, 10L))) == 15L)
    // nested: [2, 4] lies inside [0, 10]
    assert(unionLength(Seq((0L, 10L), (2L, 4L))) == 10L)
    // touching intervals, then a gap, then a chain of overlaps
    assert(unionLength(Seq((0L, 5L), (5L, 8L), (20L, 30L), (25L, 40L), (39L, 41L))) == 29L)
  }
}
