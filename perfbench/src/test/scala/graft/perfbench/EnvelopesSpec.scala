package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class EnvelopesSpec extends AnyFunSuite {

  test("envelopes are a function of (seed, version) with the configured kind shares") {
    val n = 200000
    val es = (0L until n).map(Envelopes.env(7, _, 15000, 0.3))
    assert(es == (0L until n).map(Envelopes.env(7, _, 15000, 0.3)))
    assert(es != (0L until n).map(Envelopes.env(8, _, 15000, 0.3)))
    val share = es.groupBy(_.kind).map { case (k, v) => k -> v.size.toDouble / n }
    Seq(Gen.Tombstone, Gen.Delete, Gen.ZeroId).foreach(k => assert(math.abs(share(k) - 0.01) < 0.002))
    assert(math.abs(share(Gen.Miss) / (share(Gen.Miss) + share(Gen.Hit)) - 0.3) < 0.01)
  }

  test("hits carry dimension keys, misses only repair keys, zero ids zero") {
    val es = (0L until 50000).map(Envelopes.env(1, _, 1000, 0.5))
    assert(es.filter(_.kind == Gen.Hit).forall(e => e.key >= 1 && e.key < 1000))
    assert(es.filter(_.kind == Gen.Miss).forall(e => e.key >= 1000 && e.key < 1999))
    assert(es.filter(_.kind == Gen.ZeroId).forall(_.key == 0))
  }
}
