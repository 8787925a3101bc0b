package graft

import org.scalatest.funsuite.AnyFunSuite

/** The BlockManager re-add notice is dropped for cached RDD blocks only. */
class LogHygieneSpec extends AnyFunSuite {
  test("the re-add filter drops rdd_ blocks and keeps every other block and WARN") {
    assert(LogHygiene.drop("Block rdd_12_3 already exists on this machine; not re-adding it"))
    assert(!LogHygiene.drop("Block broadcast_7_piece0 already exists on this machine; not re-adding it"))
    assert(!LogHygiene.drop("Lost task 0.0 in stage 3.0 (TID 12): java.io.IOException: disk full"))
  }
}
