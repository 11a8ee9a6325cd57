package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long): Seq[Array[Byte]] = Seq(
    Gen.encodeEvents(Gen.events(seed, 3L, Ingest.Rows, Ingest.T0, Ingest.SlotNs)),
    Gen.encodeDocs(Gen.docTexts(seed, 5L, Ingest.DocsPerBatch)),
    Gen.encodeDocs(Gen.passOrder(seed, Olap.Sf01Mix, 2)))

  test("the same seed produces byte-identical generated inputs") {
    inputs(42L).zip(inputs(42L)).foreach { case (a, b) => assert(a.sameElements(b)) }
  }

  test("another seed produces other inputs") {
    inputs(42L).zip(inputs(43L)).foreach { case (a, b) => assert(!a.sameElements(b)) }
  }

  test("events batches own disjoint ts slots and a pass orders the whole mix") {
    val ev = Gen.events(1L, 7L, Ingest.Rows, Ingest.T0, Ingest.SlotNs)
    assert(ev.forall(e => e.ts >= Ingest.slotStart(7L) && e.ts < Ingest.slotStart(8L)))
    assert(ev.map(_.eventId).sum == Ingest.idSum(7L))
    assert(Gen.passOrder(1L, Olap.Sf01Mix, 0).sorted == Olap.Sf01Mix.sorted)
  }
}
