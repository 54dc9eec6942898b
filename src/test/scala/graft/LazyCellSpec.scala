package graft

import org.scalatest.funsuite.AnyFunSuite

/** A LazyCell evicted from its BoundedMemo before its first force
  * must not pin its value: the force that computes it releases it
  * right after (ADVICE: the persist used to outlive the eviction). */
class LazyCellSpec extends AnyFunSuite {

  test("a cell evicted before its first force is released by that " +
      "force, exactly once") {
    var released = 0
    val memo = new BoundedMemo[String, LazyCell[String]](1)(
      _.release(_ => released += 1))
    val a = memo.getOrElseUpdate("A", new LazyCell("a"))
    memo.getOrElseUpdate("B", new LazyCell("b")): Unit // evicts A
    assert(released == 0, "an unforced cell must not be forced to release")
    assert(a.value == "a")
    assert(released == 1)
    assert(a.value == "a")
    assert(released == 1, "a second read must not release again")
  }

  test("a forced cell is released at eviction") {
    var released = 0
    val memo = new BoundedMemo[String, LazyCell[String]](1)(
      _.release(_ => released += 1))
    memo.getOrElseUpdate("A", new LazyCell("a")).value: Unit
    assert(released == 0)
    memo.getOrElseUpdate("B", new LazyCell("b")): Unit // evicts A
    assert(released == 1)
  }
}
