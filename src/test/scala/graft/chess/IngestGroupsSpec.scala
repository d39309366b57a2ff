package graft.chess

import org.scalatest.funsuite.AnyFunSuite

/** [[IngestMain.groups]], the split of a month range into grouped
  * passes. Pure: the test session's 4 cores cannot reach the width cap
  * end to end with short fixtures, so the cap is pinned here.
  */
class IngestGroupsSpec extends AnyFunSuite {

  private def ids(ms: (Int, Int)*): Seq[Long] =
    ms.map { case (y, m) => IngestMain.monthId(y, m) }

  test("a group holds at most width months, in order") {
    val year = ids((1 to 12).map(m => (2024, m)): _*)
    assert(IngestMain.groups(year, Set.empty, 4, calendarCarry = false) ===
      year.grouped(4).toSeq)
    assert(IngestMain.groups(year, Set.empty, 5, calendarCarry = false)
      .map(_.size) === Seq(5, 5, 2))
    assert(IngestMain.groups(year, Set.empty, 1, calendarCarry = false) ===
      year.map(Seq(_)))
    // a contiguous range never restarts, with or without the flag
    assert(IngestMain.groups(year, Set.empty, 12, calendarCarry = true) ===
      Seq(year))
    assert(IngestMain.groups(Nil, Set.empty, 4, calendarCarry = false).isEmpty)
  }

  test("--calendar-counters starts a new group at every restarting month") {
    // November to March without January: February's calendar
    // predecessor is never applied, so it restarts and heads a group
    val gap = ids((2023, 11), (2023, 12), (2024, 2), (2024, 3))
    assert(IngestMain.groups(gap, Set.empty, 4, calendarCarry = true) ===
      Seq(gap.take(2), gap.drop(2)))
    // every month of a sparse subset restarts: one group each
    val sparse = ids((2023, 12), (2024, 2), (2024, 12), (2025, 2))
    assert(IngestMain.groups(sparse, Set.empty, 4, calendarCarry = true) ===
      sparse.map(Seq(_)))
    // without the flag the counters carry, so the width alone decides
    assert(IngestMain.groups(gap, Set.empty, 4, calendarCarry = false) ===
      Seq(gap))
    // a committed January is a predecessor too: February carries
    assert(IngestMain.groups(gap, Set(IngestMain.monthId(2024, 1)), 4,
      calendarCarry = true) === Seq(gap))
  }

  test("an already-committed middle month drops out of its group") {
    val q1 = ids((2024, 1), (2024, 2), (2024, 3))
    val feb = Set(IngestMain.monthId(2024, 2))
    for (cal <- Seq(false, true))
      assert(IngestMain.groups(q1, feb, 4, calendarCarry = cal) ===
        Seq(ids((2024, 1), (2024, 3))), s"calendarCarry = $cal")
    // everything committed: nothing to do
    assert(IngestMain.groups(q1, q1.toSet, 4, calendarCarry = false).isEmpty)
  }
}
