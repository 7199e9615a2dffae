package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's only source of inputs: a seed must pin
  * the fixture exactly, and another seed must give another fixture.
  */
class ChainGenSpec extends AnyFunSuite {
  private val sizes = Seq(Lifecycle.Size, Scan.Size)

  test("the same seed gives an identical fixture digest") {
    sizes.foreach { s =>
      assert(ChainGen.generate(s, 7).digest === ChainGen.generate(s, 7).digest)
    }
  }

  test("a different seed gives a different fixture digest") {
    sizes.foreach { s =>
      assert(ChainGen.generate(s, 7).digest !== ChainGen.generate(s, 8).digest)
    }
  }

  test("the planted structure matches the size") {
    sizes.foreach { s =>
      val c = ChainGen.generate(s, 3)
      assert(c.canonical.size === s.heights)
      assert(c.orphans.size === s.forks && c.holes.size === s.holes)
      assert(c.orphans.map(_.height).toSet.intersect(c.holes.toSet).isEmpty)
      assert((c.orphans.map(_.height) ++ c.holes).forall(h => h > s.blocks && h < s.heights - 1))
      // every chunk holds a multi-tx block, so no tx chunk has one row per height
      assert(c.canonical.grouped(s.chunk).forall(_.exists(_.txids.size > 1)))
      assert(c.canonical.sliding(2).forall { case Seq(a, b) => b.parent == a.hash })
      assert(c.waves.map(_.size).sum === s.tail + s.forks)
    }
  }
}
