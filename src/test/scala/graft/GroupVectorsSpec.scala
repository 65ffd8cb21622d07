package graft

import graft.operators.PatternNFA
import graft.operators.PatternNFA._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** GROUP-pattern parity pinned to the REFERENCE'S OWN expected match
  * sets — vectors transcribed from flink-libraries/flink-cep/src/test/
  * java/org/apache/flink/cep/nfa/GroupITCase.java (all 16 tests; line
  * anchors at each). Events feed at ts = position; NO SKIP throughout
  * (the reference harness default).
  *
  * r14 closed the group grid these pin: unbounded group loops
  * (oneOrMore/zeroOrMore — extents probe data-bounded), zeroOk groups
  * (times(n).optional()), ANY/next ENTRY into groups
  * (followedByAny(group) / next(group) via the AnyEntry/NextEntry
  * wrappers), group-level consecutive and allowCombinations
  * interiors, NESTED groups (a group sub-step that is itself a
  * GroupTimes), group-level until stops, and group-FIRST patterns
  * (Pattern.begin(group)). All ride the per-repetition EXPANSION:
  * matching `sub` inlined k times with each repetition's head leaf
  * carrying the entry/interior relation IS matching the repeated
  * group (PatternNFA.expandGroup).
  *
  * Not transcribed: the NFAState.getPartialMatches() size assert in
  * the until test (SharedBuffer internals — the NFAITCase precedent).
  */
class GroupVectorsSpec extends AnyFunSuite {
  lazy val spark = StreamHarness.spark

  private val W = 3600000000L

  private def ev(kinds: String*): DataFrame = {
    import spark.implicits._
    kinds.zipWithIndex.map { case (k, i) =>
      (0L, (i + 1).toLong * 1000000L, (i + 1).toLong, k) }
      .toDF("key", "tsMicros", "id", "kind")
  }

  private def matches(df: DataFrame, steps: Seq[Step]): Set[(String, String)] =
    PatternNFA.run(spark, df, Pattern(steps, W, NoSkip))
      .collect().map(r => (r.getAs[String]("chain"), r.getAs[String]("counts")))
      .toSet

  private def chains(df: DataFrame, steps: Seq[Step]): Set[String] =
    matches(df, steps).map(_._1)

  private val ab = Seq(Step("A", "a"), Step("B", "b"))

  test("GroupITCase testGroupFollowedByTimes:46 — (a b){2}") {
    val got = matches(ev("c", "a", "b", "a", "b", "d"),
      Seq(Step("S", "c"), Step("G", "", GroupTimes(ab, 2, 2)),
        Step("E", "d")))
    assert(got == Set(("1,2,3,4,5,6", "G:2")), got)
  }

  test("GroupITCase testGroupFollowedByOptional:124 — (a b)?") {
    val got = matches(ev("c", "a", "a", "b", "d"),
      Seq(Step("S", "c"),
        Step("G", "", GroupTimes(ab, 1, 1, zeroOk = true)),
        Step("E", "d")))
    assert(got == Set(("1,2,4,5", "G:1"), ("1,5", "G:0")), got)
  }

  test("GroupITCase testFollowedByGroupTimesOptional:201 — (a b){2}? with no pair available") {
    val got = matches(ev("c", "a", "d"),
      Seq(Step("S", "c"),
        Step("G", "", GroupTimes(ab, 2, 2, zeroOk = true)),
        Step("E", "d")))
    assert(got == Set(("1,3", "G:0")), got)
  }

  test("GroupITCase testGroupFollowedByOneOrMore:273 — (a b)+ data-bounded extents") {
    val got = matches(ev("c", "a", "b", "a", "b", "d"),
      Seq(Step("S", "c"),
        Step("G", "", GroupTimes(ab, 1, Int.MaxValue)),
        Step("E", "d")))
    assert(got == Set(("1,2,3,6", "G:1"), ("1,2,3,4,5,6", "G:2")), got)
  }

  test("GroupITCase testGroupFollowedByZeroOrMore:353 — (a b)* adds the empty extent") {
    val got = matches(ev("c", "a", "b", "a", "b", "d"),
      Seq(Step("S", "c"),
        Step("G", "", GroupTimes(ab, 1, Int.MaxValue, zeroOk = true)),
        Step("E", "d")))
    assert(got == Set(("1,2,3,6", "G:1"), ("1,2,3,4,5,6", "G:2"),
      ("1,6", "G:0")), got)
  }

  private val threePairs = ev("c", "a", "b", "a", "b", "a", "b", "d")

  test("GroupITCase testGroupFollowedByAnyTimesCombinations:435 — every pair of group instances") {
    val got = matches(threePairs,
      Seq(Step("S", "c"),
        Step("G", "", AnyEntry(GroupTimes(ab, 2, 2, combinations = true))),
        Step("E", "d")))
    assert(got == Set(("1,2,3,4,5,8", "G:2"), ("1,2,3,6,7,8", "G:2"),
      ("1,4,5,6,7,8", "G:2")), got)
  }

  test("GroupITCase testGroupFollowedByAnyTimesOptional:521 — ANY-entry successive pairs + the empty branch") {
    val got = matches(threePairs,
      Seq(Step("S", "c"),
        Step("G", "", AnyEntry(GroupTimes(ab, 2, 2, zeroOk = true))),
        Step("E", "d")))
    assert(got == Set(("1,2,3,4,5,8", "G:2"), ("1,4,5,6,7,8", "G:2"),
      ("1,8", "G:0")), got)
  }

  test("GroupITCase testGroupFollowedByAnyOneOrMore:607 — ANY-entry (a b)+ prefixes per entry") {
    val got = matches(threePairs,
      Seq(Step("S", "c"),
        Step("G", "", AnyEntry(GroupTimes(ab, 1, Int.MaxValue))),
        Step("E", "d")))
    assert(got == Set(
      ("1,2,3,8", "G:1"), ("1,4,5,8", "G:1"), ("1,6,7,8", "G:1"),
      ("1,2,3,4,5,8", "G:2"), ("1,4,5,6,7,8", "G:2"),
      ("1,2,3,4,5,6,7,8", "G:3")), got)
  }

  test("GroupITCase testGroupNextZeroOrMore:695 — next-entry consecutive (a b)* runs") {
    val got = matches(threePairs,
      Seq(Step("S", "c"),
        Step("G", "", NextEntry(GroupTimes(ab, 1, Int.MaxValue,
          zeroOk = true, consecutive = true))),
        Step("E", "d")))
    assert(got == Set(("1,8", "G:0"), ("1,2,3,8", "G:1"),
      ("1,2,3,4,5,8", "G:2"), ("1,2,3,4,5,6,7,8", "G:3")), got)
  }

  test("GroupITCase testGroupNotFollowedBy:783 / testGroupNotNext:873 — a NOT after an ANY-entry group") {
    val df = ev("c", "a", "b", "d", "a", "b", "e")
    val notF = matches(df, Seq(Step("S", "c"),
      Step("G", "", AnyEntry(GroupTimes(ab, 1, 1))),
      Step("N", "d", Not), Step("E", "e")))
    assert(notF == Set(("1,5,6,7", "G:1")), notF)
    val notN = matches(df, Seq(Step("S", "c"),
      Step("G", "", AnyEntry(GroupTimes(ab, 1, 1))),
      Step("N", "d", NotNext), Step("E", "e")))
    assert(notN == Set(("1,5,6,7", "G:1")), notN)
  }

  test("GroupITCase testGroupNest:963 — (a (b c)*)? nested optional loop") {
    val got = chains(ev("d", "a", "b", "c", "b", "c", "e"),
      Seq(Step("S", "d"),
        Step("G", "", GroupTimes(Seq(Step("A", "a"),
          Step("I", "", GroupTimes(Seq(Step("B", "b"), Step("C", "c")),
            1, Int.MaxValue, zeroOk = true))),
          1, 1, zeroOk = true)),
        Step("E", "e")))
    assert(got == Set("1,7", "1,2,7", "1,2,3,4,7", "1,2,3,4,5,6,7"), got)
  }

  test("GroupITCase testGroupNestTimes:1068 — (a (b c){3}){0,2} with ANY entry") {
    val df = ev("d", "a", "b", "c", "b", "c", "b", "c",
      "a", "b", "c", "b", "c", "b", "c", "e")
    val got = chains(df,
      Seq(Step("S", "d"),
        Step("G", "", AnyEntry(GroupTimes(Seq(Step("A", "a"),
          Step("I", "", GroupTimes(Seq(Step("B", "b"), Step("C", "c")),
            3, 3))),
          0, 2))),
        Step("E", "e")))
    assert(got == Set(
      "1,16",
      "1,2,3,4,5,6,7,8,16",
      "1,9,10,11,12,13,14,15,16",
      "1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16"), got)
  }

  test("GroupITCase testGroupNestTimesConsecutive:1191 — a breaking event kills the consecutive nest") {
    val df = ev("d", "a", "b", "c", "b", "c", "b", "c",
      "a", "b", "c", "x", "b", "c", "b", "c", "e")
    val got = chains(df,
      Seq(Step("S", "d"),
        Step("G", "", AnyEntry(GroupTimes(Seq(Step("A", "a"),
          Step("I", "", GroupTimes(Seq(Step("B", "b"), Step("C", "c")),
            3, 3, consecutive = true))),
          0, 2, consecutive = true))),
        Step("E", "e")))
    assert(got == Set("1,17", "1,2,3,4,5,6,7,8,17"), got)
  }

  test("GroupITCase testGroupBegin:1314 — Pattern.begin(group).times(1,2)") {
    val got = matches(ev("a", "b", "a", "b", "d"),
      Seq(Step("G", "", GroupTimes(ab, 1, 2)), Step("E", "d")))
    assert(got == Set(("1,2,5", "G:1"), ("3,4,5", "G:1"),
      ("1,2,3,4,5", "G:2")), got)
  }

  test("GroupITCase testGroupFollowedByOneOrMoreWithUntilCondition:1382 — the stop caps repetitions and binds end") {
    val got = matches(ev("c", "a", "b", "a", "b", "d"),
      Seq(Step("S", "c"),
        Step("G", "", GroupTimes(ab, 1, Int.MaxValue,
          untilKind = Some("d"))),
        Step("E", "d")))
    assert(got == Set(("1,2,3,6", "G:1"), ("1,2,3,4,5,6", "G:2")), got)
  }
}
