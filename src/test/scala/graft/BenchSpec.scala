package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("twin dir name: same basename, different path -> different twin") {
    val a = Bench.twinDirName("/root/testdata/sf0.1")
    val b = Bench.twinDirName("/mnt/other/sf0.1")
    assert(a.startsWith("sfwarm_sf0.1_"), a)
    assert(b.startsWith("sfwarm_sf0.1_"), b)
    assert(a !== b, "two corpora sharing a basename reused one twin dir")
    // deterministic: the same canonical path always maps to the same twin
    assert(a === Bench.twinDirName("/root/testdata/sf0.1"))
    // degenerate inputs still produce a usable name
    assert(Bench.twinDirName("").startsWith("sfwarm_"))
  }
}
