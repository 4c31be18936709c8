package graftbench

import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite {

  test("a window measures at least minOps operations") {
    assert(Measure.window(0.0, 3)(0.0).size == 3)
  }

  test("a window starts another operation only if one as long as the last still fits") {
    // 100 ms operations in a 250 ms window: after two (~200 ms) a third
    // would end near 300 ms, past the window
    val times = Measure.window(0.25, 1) { Thread.sleep(100); 0.1 }
    assert(times.size == 2)
  }
}
