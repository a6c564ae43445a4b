package graftbench

import org.scalatest.funsuite.AnyFunSuite

class HeapWatchSpec extends AnyFunSuite {
  test("the peak is the largest after-GC occupancy recorded") {
    val h = new HeapWatch
    Seq(100L, 300L, 200L).foreach(h.record)
    assert(h.peakBytes == 300L)
    assert(h.collections == 3)
  }

  test("a real collection arrives as a GC notification with the live heap") {
    val h = new HeapWatch().install()
    try {
      val keep = Array.fill(64)(new Array[Byte](1 << 20)) // 64 MiB live across the GC
      System.gc()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (h.collections == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(h.collections > 0)
      assert(h.peakBytes >= 64L * 1024 * 1024)
      assert(h.peakBytes <= Runtime.getRuntime.maxMemory)
      assert(keep.length == 64) // keeps the arrays reachable until after the check
    } finally h.uninstall()
  }
}
