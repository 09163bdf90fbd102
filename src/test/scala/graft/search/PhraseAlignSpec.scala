package graft.search

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Property test of the one phrase alignment function that phrase scoring
  * and phrase explain share, [[PostingUdfs.phraseMatchPositions]], against
  * a brute-force reading of its definition.
  */
class PhraseAlignSpec extends AnyFunSuite {

  /** The base positions `p0` for which some choice of one position per
    * other term has a normalized spread `max − min` of `pos − offset` ≤
    * slop, `p0` included: a depth-first search over the choices, cut once
    * the spread exceeds slop.
    */
  private def reference(pos: Seq[Seq[Int]], offsets: Seq[Int], slop: Int): Seq[Int] =
    pos.head.filter { p0 =>
      def choose(t: Int, lo: Int, hi: Int): Boolean =
        t == pos.size || pos(t).exists { p =>
          val n = p - offsets(t)
          val (l, h) = (math.min(lo, n), math.max(hi, n))
          h - l <= slop && choose(t + 1, l, h)
        }
      val n0 = p0 - offsets.head
      choose(1, n0, n0)
    }

  /** One term's sorted distinct positions in 0..40. */
  private val positions: Gen[Seq[Int]] =
    Gen.choose(1, 12).flatMap(n => Gen.pick(n, 0 to 40)).map(_.toSeq.sorted)

  /** 2–4 terms, increasing offsets, slop 0–3. */
  private val phrase: Gen[(Seq[Seq[Int]], Seq[Int], Int)] = for {
    k <- Gen.choose(2, 4)
    pos <- Gen.listOfN(k, positions)
    first <- Gen.choose(0, 2)
    steps <- Gen.listOfN(k - 1, Gen.choose(1, 3))
    slop <- Gen.choose(0, 3)
  } yield (pos, steps.scanLeft(first)(_ + _), slop)

  test("phraseMatchPositions: exactly the base positions with an alignment spread <= slop") {
    // to replay a failure, replace Seed.random() with
    // Seed.fromBase64("<logged seed>").get
    val seed = Seed.random()
    info(s"scalacheck seed ${seed.toBase64}")
    var exactMatches, slopMatches = 0
    val prop = Prop.forAllNoShrink(phrase) { case (pos, offsets, slop) =>
      val want = reference(pos, offsets, slop)
      if (want.nonEmpty) { if (slop == 0) exactMatches += 1 else slopMatches += 1 }
      val got = PostingUdfs.phraseMatchPositions(pos, offsets, slop).toSeq
      (got == want) :| s"positions=$pos offsets=$offsets slop=$slop: got $got, want $want"
    }
    val result = Test.check(
      Test.Parameters.default.withInitialSeed(seed).withMinSuccessfulTests(2000), prop)
    assert(result.passed, s"seed ${seed.toBase64}: ${Pretty.pretty(result, Pretty.Params(1))}")
    // the generator must reach matching docs on both alignment branches
    assert(exactMatches > 20 && slopMatches > 100, s"exact=$exactMatches slop=$slopMatches")
  }
}
