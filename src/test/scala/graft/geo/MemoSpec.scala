package graft.geo

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The two executor memo shapes: the per-thread LRU's eviction order and
  * thread confinement, the striped memo's miss counting, and the row-key
  * contract — a memo keyed on a row's UTF8String must own its key bytes,
  * because Spark overwrites the row buffer with the next row.
  */
class MemoSpec extends AnyFunSuite {

  test("PerThread evicts the least-recently-used entry at its cap, and get refreshes recency") {
    val m = new Memo.PerThread[String, String](3)
    Seq("a", "b", "c").foreach(k => m.put(k, k.toUpperCase))
    assert(m.get("a") == "A") // a is now the most recent; b is the eldest
    m.put("d", "D")
    assert(m.get("b") == null)
    assert(Seq("a", "c", "d").map(m.get) == Seq("A", "C", "D"))
  }

  test("PerThread entries are per thread") {
    val m = new Memo.PerThread[String, String](8)
    assert(m.put("k", "v") == "v")
    var other: String = "unset"
    val t = new Thread(() => other = m.get("k"))
    t.start(); t.join()
    assert(other == null)
    assert(m.get("k") == "v")
  }

  test("Striped returns null on a miss and counts each put as one miss") {
    val m = new Memo.Striped[String](4)
    assert(m.get(42L) == null)
    assert(m.put(42L, "x") == "x")
    assert(m.get(42L) == "x")
    assert(m.misses.get == 1L && m.size == 1)
    m.clear()
    assert(m.get(42L) == null && m.size == 0)
  }

  test("a row-backed UTF8String key overwritten after the miss still hits under its original text") {
    val original = "POINT (1.25 2.5)"
    val buf = original.getBytes(UTF_8)
    val row = UTF8String.fromBytes(buf) // shares buf, like a row-backed value
    val g = graft.engine.GraftFunctions.parseGeomCached(row)
    // Spark reuses the buffer for the next row
    System.arraycopy("POINT (3.75 4.5)".getBytes(UTF_8), 0, buf, 0, buf.length)
    assert(graft.engine.GraftFunctions.parseGeomCached(UTF8String.fromString(original)) eq g)
    val next = graft.engine.GraftFunctions.parseGeomCached(row)
    assert(!(next eq g))
    assert(next.getCoordinate.x == 3.75 && next.getCoordinate.y == 4.5)
  }
}
