package graft.core

import org.scalatest.funsuite.AnyFunSuite

import org.scalacheck.Gen
import scala.collection.mutable.ArrayBuffer

/** Core-kernel laws (SURVEY §5): dominance, SFS/BNL equivalence, the
  * brute-force O(n²) oracle, partition-invariance of merge, duplicate
  * preservation.
  */
class SkylineKernelSpec extends AnyFunSuite with PropHelpers {

  private def bruteForce(pts: Seq[Array[Double]]): Seq[Array[Double]] =
    pts.filter(p => !pts.exists(q => Dominance.dominates(q, p)))

  // Multiset keys via raw bits, not Seq[Double]: primitive == is IEEE, so
  // ArraySeq(NaN) never equals itself and a NaN-keyed groupBy map can never
  // compare equal — bits make NaN self-equal and ±0.0 distinct, the exact
  // identity the kernel's duplicate handling uses (Arrays.equals).
  private def asSets(pts: Seq[Array[Double]]): Map[Seq[Long], Int] =
    pts.groupBy(_.toSeq.map(java.lang.Double.doubleToLongBits))
      .view.mapValues(_.size).toMap

  private val pointGen: Gen[Array[Double]] =
    for {
      d <- Gen.const(3)
      vs <- Gen.listOfN(d, Gen.choose(0, 9).map(_.toDouble))
    } yield vs.toArray

  private val setGen: Gen[List[Array[Double]]] = Gen.listOf(pointGen)

  test("dominance: hand-computed fixtures (FIXTURES.md §3)") {
    assert(Dominance.dominates(Array(1.0, 1.0), Array(1.0, 2.0)))
    assert(!Dominance.dominates(Array(1.0, 2.0), Array(1.0, 1.0)))
    assert(!Dominance.dominates(Array(2.0, 2.0), Array(2.0, 2.0)), "equal vectors never dominate")
    assert(!Dominance.dominates(Array(1.0, 5.0), Array(5.0, 1.0)), "incomparable")
    assert(Dominance.dominates(Array(1.0), Array(2.0)), "1-dim")
  }

  test("skylineOf: hand-computed fixture with duplicate retention") {
    val s = ArrayBuffer(
      Array(1.0, 5.0), Array(5.0, 1.0), Array(3.0, 3.0), Array(4.0, 4.0), Array(1.0, 5.0))
    val sky = SkylineKernel.skylineOf(s)
    assert(asSets(sky.toSeq) == asSets(Seq(
      Array(1.0, 5.0), Array(5.0, 1.0), Array(3.0, 3.0), Array(1.0, 5.0))))
  }

  test("skylineOf == brute-force oracle (multiset, duplicates retained)") {
    forAll(setGen) { pts =>
      val got = SkylineKernel.skylineOf(ArrayBuffer.from(pts))
      assert(asSets(got.toSeq) == asSets(bruteForce(pts)))
    }
  }

  test("BNL insert sequence == SFS") {
    forAll(setGen) { pts =>
      val buf = new ArrayBuffer[Array[Double]]
      pts.foreach(SkylineKernel.insert(buf, _))
      assert(asSets(buf.toSeq) == asSets(SkylineKernel.skylineOf(ArrayBuffer.from(pts)).toSeq))
    }
  }

  test("skyline laws: no member dominates another; idempotent; permutation-invariant") {
    forAll(setGen) { pts =>
      val sky = SkylineKernel.skylineOf(ArrayBuffer.from(pts))
      for (a <- sky; b <- sky) assert(!Dominance.dominates(a, b))
      assert(asSets(SkylineKernel.skylineOf(sky.clone()).toSeq) == asSets(sky.toSeq), "idempotent")
      assert(asSets(SkylineKernel.skylineOf(ArrayBuffer.from(pts.reverse)).toSeq) == asSets(sky.toSeq), "permutation-invariant")
    }
  }

  test("partition-then-merge == whole-set skyline (validates aggregate partial/merge)") {
    forAll2(setGen, Gen.choose(1, 5)) { (pts, k) =>
      val parts = pts.zipWithIndex.groupBy(_._2 % k).values.map(g => ArrayBuffer.from(g.map(_._1)))
      val merged = parts.map(SkylineKernel.skylineOf).reduceOption(SkylineKernel.merge)
        .getOrElse(new ArrayBuffer[Array[Double]])
      assert(asSets(merged.toSeq) == asSets(SkylineKernel.skylineOf(ArrayBuffer.from(pts)).toSeq))
    }
  }

  test("SkyBuffer add/absorb/result matches oracle across compaction boundaries") {
    forAll(Gen.listOfN(3000, pointGen), n = 5) { pts =>
      val (l, r) = pts.splitAt(pts.length / 2)
      val b1 = new SkyBuffer(); l.foreach(b1.add)
      val b2 = new SkyBuffer(); r.foreach(b2.add)
      b1.absorb(b2)
      assert(asSets(b1.result().toSeq) == asSets(bruteForce(pts)))
    }
  }

  test("sum-tie dominators are not missed (rounding / Infinity collapse sums)") {
    // Exact sums differ but COMPUTED sums tie: 1e16 + 1.0 rounds back to
    // 1e16, and anything + Infinity is Infinity. A sum-bounded SFS scan
    // that stops strictly BELOW the candidate's sum would admit the
    // dominated point (the round-8 review finding, runtime-confirmed).
    val roundTie = ArrayBuffer(Array(1e16, 0.0), Array(1e16, 1.0))
    assert(SkylineKernel.skylineOf(roundTie).map(_.toSeq) == ArrayBuffer(Seq(1e16, 0.0)))
    val infTie = ArrayBuffer(
      Array(0.0, Double.PositiveInfinity), Array(1.0, Double.PositiveInfinity))
    assert(SkylineKernel.skylineOf(infTie).map(_.toSeq) ==
      ArrayBuffer(Seq(0.0, Double.PositiveInfinity)))
    // NaN coordinates: never dominate, never dominated, and the sort's
    // comparator must stay a strict weak order (no TimSort contract throw).
    val withNaN = ArrayBuffer(
      Array(Double.NaN, 1.0), Array(1.0, 1.0), Array(2.0, 2.0), Array(Double.NaN, 1.0))
    val sky = SkylineKernel.skylineOf(withNaN).map(_.toSeq)
    assert(sky.count(_ == Seq(1.0, 1.0)) == 1 && !sky.contains(Seq(2.0, 2.0)))
    assert(sky.count(s => s.head.isNaN) == 2, "NaN points must survive as themselves")
  }

  test("counted buffer: duplicate-heavy input stays distinct-bounded, multiset intact") {
    // 50k rows over 40 distinct mutually-non-dominated points (a tight
    // anti-diagonal) — the anti-correlated integer worst case in miniature.
    // The OLD multiset buffer held all 50k rows (quadratic merge, the
    // round-8 28-minute-reducer bug); the counted buffer must stay at 40
    // entries after compaction while result() still re-expands every copy.
    val distinct = (0 until 40).map(i => Array(i.toDouble, (39 - i).toDouble))
    val b = new SkyBuffer()
    (0 until 50000).foreach(i => b.add(distinct(i % 40).clone()))
    b.compact()
    assert(b.points.length == 40, s"buffer not distinct-bounded: ${b.points.length}")
    assert(b.counts.sum == 50000L, "multiset cardinality lost")
    val out = b.result()
    assert(out.length == 50000, s"duplicates not re-expanded: ${out.length}")
    // And the counted path still drops dominated points' copies entirely.
    val b2 = new SkyBuffer()
    (0 until 1000).foreach(_ => b2.add(Array(100.0, 100.0))) // dominated by all
    (0 until 1000).foreach(i => b2.add(distinct(i % 40).clone()))
    assert(asSets(b2.result().toSeq) ==
      asSets((0 until 1000).map(i => distinct(i % 40))))
  }

  test("SkyBuffer.add(p, count): multiplicities survive compaction and absorb") {
    // Counted adds (the streaming map-side local skyline's entries) must
    // give the same multiset as adding each copy once: across compaction
    // (3000 entries pass MinCompact) and absorb, and result() re-expands
    // every count exactly.
    forAll(Gen.listOfN(3000, Gen.zip(pointGen, Gen.choose(1, 5))), n = 5) { cps =>
      val (l, r) = cps.splitAt(cps.length / 2)
      val b1 = new SkyBuffer(); l.foreach { case (p, c) => b1.add(p, c.toLong) }
      val b2 = new SkyBuffer(); r.foreach { case (p, c) => b2.add(p, c.toLong) }
      b1.absorb(b2)
      val flat = cps.flatMap { case (p, c) => Seq.fill(c)(p) }
      val sky = b1.result().toSeq
      assert(asSets(sky) == asSets(bruteForce(flat)))
      assert(b1.counts.sum == sky.length.toLong)
    }
  }

  test("tagged counted SFS: per-tag multiset equals brute force per tag") {
    // Property: the tagged merge (the streaming global phase's
    // representation — dominance ignores the tag, equal points with
    // different tags stay separate entries) expands, per tag, to exactly
    // the points of that tag that survive the UNION's skyline.
    val taggedGen: Gen[List[(Array[Double], Int)]] =
      Gen.listOf(for {
        p <- pointGen
        t <- Gen.choose(0, 3)
      } yield (p, t))
    forAll(taggedGen) { pts =>
      val (p, t, c) = SkylineKernel.skylineCountedTagged(
        ArrayBuffer(pts.map(_._1): _*),
        ArrayBuffer(pts.map(_._2): _*),
        ArrayBuffer.fill(pts.length)(1L))
      // Counted invariants: merged entries are (point, tag)-distinct and
      // total multiplicity equals the surviving multiset size.
      val keys = p.indices.map(i => (p(i).toSeq, t(i)))
      assert(keys.distinct.size == keys.size, "entries not (point, tag)-distinct")
      val all = pts.map(_._1)
      val surviving = pts.filter { case (q, _) =>
        !all.exists(r => Dominance.dominates(r, q)) }
      assert(c.sum == surviving.size.toLong)
      // Per-tag expansion matches brute force over the union.
      (0 to 3).foreach { tag =>
        val got = p.indices.collect {
          case i if t(i) == tag => (p(i).toSeq, c(i)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        val want = surviving.collect { case (q, `tag`) => q.toSeq }
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        assert(got == want, s"tag $tag multiset diverged")
      }
    }
  }

  test("lex staircase path: 2D and special values (±0.0, ±∞) match brute force") {
    // The d <= 3 kernel path is a lexicographic staircase sweep; pin it
    // against brute force on the adversarial inputs for that structure:
    // heavy coordinate ties (small int lattice), IEEE-equal-but-bitwise-
    // distinct zeros, and infinities. NaN is deliberately absent from the
    // pool: the comparator mirrors the reference's IEEE wildcard
    // (ServiceTuple.java:53-77 — NaN neither blocks domination nor confers
    // strictness), under which sum-monotonicity fails and NO sorted
    // algorithm here (including the legacy SFS path) is brute-force-exact
    // on NaN + ∞ mixtures; the data plane never produces NaN, and the NaN
    // fixture test below pins the pragmatic behavior that IS guaranteed.
    def check(pts: List[Array[Double]]): Unit = {
      val (p, c) = SkylineKernel.skylineCounted(
        ArrayBuffer(pts: _*), ArrayBuffer.fill(pts.length)(1L))
      val got = p.indices.flatMap(i => Seq.fill(c(i).toInt)(p(i)))
      assert(asSets(got) == asSets(bruteForce(pts)),
        s"diverged on ${pts.map(_.mkString("(", ",", ")")).mkString(" ")}")
    }
    val flat2d: Gen[List[Array[Double]]] = Gen.listOf(
      Gen.listOfN(2, Gen.choose(0, 9).map(_.toDouble)).map(_.toArray))
    forAll(flat2d)(check)
    val special = Gen.oneOf[Double](-0.0, 0.0, 1.0, 2.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
    (1 to 3).foreach { d =>
      val gen: Gen[List[Array[Double]]] =
        Gen.listOf(Gen.listOfN(d, special).map(_.toArray))
      forAll(gen, n = 200)(check)
    }
  }

  test("tagged counted SFS: equal points under different tags both survive") {
    val (p, t, c) = SkylineKernel.skylineCountedTagged(
      ArrayBuffer(Array(1.0, 1.0), Array(1.0, 1.0), Array(1.0, 1.0), Array(2.0, 2.0)),
      ArrayBuffer(0, 1, 0, 2),
      ArrayBuffer(1L, 5L, 2L, 9L))
    val entries = p.indices.map(i => (p(i).toSeq, t(i), c(i))).toSet
    // (1,1) never dominated by its equals; (2,2) dominated and dropped;
    // same-tag copies merge counts, cross-tag copies stay separate.
    assert(entries == Set(
      (Seq(1.0, 1.0), 0, 3L), (Seq(1.0, 1.0), 1, 5L)))
  }
}
