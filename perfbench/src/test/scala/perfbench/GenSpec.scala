package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long) = {
    val g = new Gen(seed)
    val days = (Gen.RefDay - 5 to Gen.RefDay).flatMap(g.lineDay)
    (days, days.take(50).map(g.lineUpdate(_, 3)), (0L until 50L).map(g.customer(_, 1)),
      (0L until 50L).map(g.document))
  }

  test("one seed gives identical inputs, in any draw order") {
    assert(inputs(7) == inputs(7))
    val g = new Gen(7)
    val forward = (0L until 20L).map(g.document)
    val backward = (19L to 0L by -1L).map(g.document).reverse
    assert(forward == backward)
  }

  test("another seed gives other inputs") {
    val (a, b) = (inputs(7), inputs(8))
    assert(a._1 != b._1)
    assert(a._2 != b._2)
    assert(a._3 != b._3)
    assert(a._4 != b._4)
  }

  test("generated rows keep the fixture shapes") {
    val lines = new Gen(1).lineDay(Gen.RefDay)
    assert(lines.size >= 220 && lines.size <= 260)
    assert(lines.map(_.key).distinct.size == lines.size)
    assert(lines.forall(l => l.quantity >= 1 && l.quantity <= 50 && l.discount <= 0.1))
    val doc = new Gen(1).document(3)
    assert(doc.text.split(" ").forall(w => w == "dup" || Gen.Vocabulary.contains(w)))
  }
}
