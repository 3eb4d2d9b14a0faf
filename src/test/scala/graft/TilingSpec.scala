package graft

import graft.operators.TilingOps
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Tiling/grid math suites — mirrors the reference's tile-count and
  * placeholder invariants (tests/baseline.rs:133-147, 204-243).
  */
class TilingSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("candidate ratios: sorted, distinct, products within [2,9]") {
    val c = TilingOps.candidateRatios()
    assert(c == c.sorted && c.distinct == c)
    assert(c.forall { case (w, h) => w * h >= 2 && w * h <= 9 })
    assert(c.contains((1, 2)) && c.contains((3, 3)) && !c.contains((1, 1)))
  }

  test("bestRatio: aspect match wins; area tie-break on equal ratios") {
    assert(TilingOps.bestRatio(1280, 640) == (2, 1))  // aspect 2.0
    assert(TilingOps.bestRatio(640, 1280) == (1, 2))
    // square: candidates (1,2).. scanned; ties among k×k ratios (1.0):
    // small square keeps the first 1.0 candidate scanned that set best,
    // huge square upgrades to the last area-qualified equal-ratio grid
    val small = TilingOps.bestRatio(100, 100)
    val big = TilingOps.bestRatio(3000, 3000)
    assert(small._1 == small._2 && big._1 == big._2)
    assert(big._1 * big._2 >= small._1 * small._2)
    assert(big == (3, 3)) // area 9e6 > 0.5*640²*9 = 1.84e6 → last k×k wins
  }

  test("token grids match the reference formulas (base 1024, size 640)") {
    assert(TilingOps.tokensGlobal() == 16 * 17 + 1)      // g=16 → 273
    assert(TilingOps.tokensLocal(1, 1) == 0)
    assert(TilingOps.tokensLocal(2, 1) == 10 * (20 + 1)) // l=10
    assert(TilingOps.tokensLocal(3, 2) == 20 * 31)
  }

  /** Row-major tile crop origins for a w×h grid. */
  private def tileOffsets(w: Int, h: Int, size: Int = TilingOps.ImageSize): Seq[(Int, Int)] =
    (0 until w * h).map(i => ((i % w) * size, (i / w) * size))

  test("tile offsets: row-major, n_tiles = w*h, within bounds") {
    check(Prop.forAll(Gen.choose(1, 9), Gen.choose(1, 9)) { (w, h) =>
      val offs = tileOffsets(w, h)
      offs.size == w * h &&
        offs.forall { case (x, y) => x < w * 640 && y < h * 640 &&
          x % 640 == 0 && y % 640 == 0 } &&
        offs == offs.sortBy { case (x, y) => (y, x) } // reading order
    })
  }

  test("property: bestRatio always a valid candidate") {
    check(Prop.forAll(Gen.choose(1L, 4000L), Gen.choose(1L, 4000L)) { (w, h) =>
      val (rw, rh) = TilingOps.bestRatio(w, h)
      rw * rh >= 2 && rw * rh <= 9
    })
  }
}
