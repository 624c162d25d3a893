package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's derived confs, checked as pure functions of the
  * master URL (no SparkSession is built here). */
class GraftSessionSpec extends AnyFunSuite {

  test("shuffle/state partitions = the master's task slots") {
    assert(GraftSession.taskSlots("local[4]") == 4)
    assert(GraftSession.taskSlots("local[4,2]") == 4) // F = task retries, not slots
    assert(GraftSession.taskSlots("local[*]") == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.taskSlots("local[*,3]") == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.taskSlots("local") == 1)
    assert(GraftSession.taskSlots("local[32]") == 32) // builder()'s default master
    assert(GraftSession.taskSlots("spark://h:7077") == 32)
  }
}
