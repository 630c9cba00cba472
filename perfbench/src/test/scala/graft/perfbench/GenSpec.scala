package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed different ones") {
    val b1 = Summary.batchFingerprint(Gen.batch(1, 300))
    assert(Summary.batchFingerprint(Gen.batch(1, 300)) == b1)
    assert(Summary.batchFingerprint(Gen.batch(2, 300)) != b1)
    val d1 = Summary.docFingerprint(Gen.docApi(1, 3))
    assert(Summary.docFingerprint(Gen.docApi(1, 3)) == d1)
    assert(Summary.docFingerprint(Gen.docApi(2, 3)) != d1)
  }

  test("nearby seeds do not give shifted copies of one stream") {
    val a = Gen.batch(2, 200).turns.map(_.text).toSet
    val b = Gen.batch(4, 200).turns.map(_.text).toSet
    assert((a intersect b).isEmpty)
  }

  test("batch table: plain-text share, skewed conversation, distinct pages") {
    val in = Gen.batch(7, 1000)
    assert(in.kinds.count(_ == Gen.Plain) == 100)
    assert(in.turns.zip(in.kinds).forall { case (t, k) => (k == Gen.Plain) == (t.text.length < 100) })
    assert(in.turns.count(_.conv_id == Gen.SkewConv) >= 50)
    assert(in.turns.map(_.text).distinct.length == 1000)
    assert(in.turns.map(t => (t.conv_id, t.turn_idx)).distinct.length == 1000)
  }

  test("doc_api stream: 20% repeats, only of pages asked for in earlier rounds") {
    val in = Gen.docApi(3, 10)
    assert(in.pages.length == 10 * Gen.Design.length)
    assert(in.requests.length == 10 * Gen.Design.length + 9 * Gen.RoundRepeats)
    val firstAt = in.requests.zipWithIndex.groupBy(_._1).map { case (p, v) => p -> v.map(_._2).min }
    in.requests.zipWithIndex.foreach { case (p, i) =>
      assert(firstAt(p) == i || firstAt(p) < i - (i - Gen.Design.length) % (Gen.Design.length + Gen.RoundRepeats))
    }
    assert(in.pages.forall(p => p.depth >= 1 && p.depth <= 48 && p.html.length >= 1024))
    assert(in.pages.count(_.kind == Gen.Unhinted) == 10 * 6)
  }

  test("doc_api rounds: one repeat per size group, nearly equal HTML bytes") {
    val rounds = 40
    val in = Gen.docApi(5, rounds)
    val (fresh, per) = (Gen.Design.length, Gen.Design.length + Gen.RoundRepeats)
    val bytes = (0 until rounds).map { round =>
      val reqs = in.requests.slice(if (round == 0) 0 else fresh + (round - 1) * per, fresh + round * per)
      val repeats = reqs.filter(_ < round * fresh).map(_ % fresh)
      if (round > 0)
        assert(repeats.map(s => Gen.RepeatGroups.indexWhere(_.contains(s))).sorted.toSeq ==
          (0 until Gen.RoundRepeats))
      reqs.map(in.pages(_).html.length.toDouble).sum
    }.tail
    val mean = bytes.sum / bytes.length
    val cv = math.sqrt(bytes.map(b => (b - mean) * (b - mean)).sum / bytes.length) / mean
    assert(cv < 0.15, s"round bytes vary by cv=$cv")
  }
}
