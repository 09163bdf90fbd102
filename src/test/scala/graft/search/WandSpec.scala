package graft.search

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.index.{FieldDef, IndexBuilder, IndexSchema}

/** Block-max WAND must be result-identical to the exhaustive plan. */
class WandSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"))

  private lazy val searcher: Searcher = {
    val rnd = new scala.util.Random(33)
    // zipfian-ish vocab so some terms are dense (WAND-prunable)
    val vocab = Vector.tabulate(50)(i => s"w$i")
    def pick(): String = vocab(math.min((math.abs(rnd.nextGaussian()) * 10).toInt, 49))
    val docs = Vector.tabulate(500)(i =>
      (i.toLong, Vector.fill(10 + rnd.nextInt(40))(pick()).mkString(" ")))
    val dir = Files.createTempDirectory("graft-wand").toString
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), schema, dir, "wand",
      IndexBuilder.BuildConf(numSegments = 3, blockBits = 5))
    new Searcher(new IndexReader(spark, dir), schema)
  }

  private def exhaustive(q: Query, k: Int) =
    searcher.search(q)
      .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc)
      .limit(k)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))

  private def assertSame(a: Array[(Int, Int, Double)], b: Array[(Int, Int, Double)]): Unit = {
    assert(a.length == b.length)
    a.zip(b).foreach { case ((s1, d1, sc1), (s2, d2, sc2)) =>
      assert(s1 == s2 && d1 == d2, s"doc order differs: ($s1,$d1) vs ($s2,$d2)")
      assert(math.abs(sc1 - sc2) < 1e-12, s"score differs: $sc1 vs $sc2")
    }
  }

  test("single term: WAND == exhaustive (bitwise scores)") {
    for (t <- Seq("w0", "w5", "w20")) {
      val wand = WandTopK.topK(searcher, WandTopK.TermBag("text", Nil, Seq(t), Nil), 10)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val base = exhaustive(TermQuery("text", t), 10)
      assert(wand.map(x => (x._1, x._2)).toSeq == base.map(x => (x._1, x._2)).toSeq)
      wand.zip(base).foreach { case (w, e) => assert(w._3 == e._3, "scores must be bitwise equal") }
    }
  }

  test("multi-term should bag: WAND == exhaustive") {
    val terms = Seq("w0", "w1", "w7", "w15")
    val q = BooleanQuery(terms.map(t => (Occur.Should, TermQuery("text", t): Query)))
    val wand = WandTopK.topK(searcher, WandTopK.TermBag("text", Nil, terms, Nil), 15)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assertSame(wand, exhaustive(q, 15))
  }

  test("k larger than matches; missing terms") {
    val wand = WandTopK.topK(searcher, WandTopK.TermBag("text", Nil, Seq("w49", "nosuchterm"), Nil), 1000)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val base = exhaustive(TermQuery("text", "w49"), 1000)
    assertSame(wand, base)
    assert(WandTopK.topK(searcher, WandTopK.TermBag("text", Nil, Seq("nosuchterm"), Nil), 10).count() == 0)
  }

  test("topDocs auto-routes eligible queries through WAND") {
    val q = BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w3"))))
    assert(WandTopK.eligible(q).contains(
      WandTopK.TermBag("text", Nil, Seq("w0", "w3"), Nil, None)))
    val viaTopDocs = searcher.topDocs(q, 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assertSame(viaTopDocs, exhaustive(q, 10))
    // offset paging stays correct through the WAND route
    val all = exhaustive(q, 20)
    val page2 = searcher.topDocs(q, 10, offset = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assertSame(page2, all.drop(10))
  }

  // ---- r6 extended routing: must+should, mustNot, dismax ----

  private def viaWand(q: Query, k: Int) = {
    val bag = WandTopK.eligible(q)
    assert(bag.nonEmpty, s"expected $q to be WAND-eligible")
    WandTopK.topK(searcher, bag.get, k)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
  }

  test("must+should bag: WAND == exhaustive (incl. must-only docs)") {
    val q = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w3"))))
    assertSame(viaWand(q, 15), exhaustive(q, 15))
  }

  test("pure conjunction: WAND == exhaustive") {
    val q = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Must, TermQuery("text", "w1"))))
    assertSame(viaWand(q, 20), exhaustive(q, 20))
  }

  test("should + mustNot: WAND == exhaustive (exclusion honored)") {
    val q = BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w5")),
      (Occur.MustNot, TermQuery("text", "w1"))))
    val got = viaWand(q, 25)
    assertSame(got, exhaustive(q, 25))
    // sanity: the exclusion actually bites on this corpus
    val without = exhaustive(BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w5")))), 25)
    assert(got.map(h => (h._1, h._2)).toSet != without.map(h => (h._1, h._2)).toSet)
  }

  test("must + should + mustNot bag through topDocs routing") {
    val q = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w2")),
      (Occur.Should, TermQuery("text", "w7")),
      (Occur.MustNot, TermQuery("text", "w15"))))
    assert(WandTopK.eligible(q).nonEmpty)
    val viaTopDocs = searcher.topDocs(q, 12)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assertSame(viaTopDocs, exhaustive(q, 12))
  }

  test("dismax bag: WAND == exhaustive") {
    val q = DisjunctionMaxQuery(
      Seq(TermQuery("text", "w0"), TermQuery("text", "w3"), TermQuery("text", "w9")), 0.3)
    assert(WandTopK.eligible(q).contains(
      WandTopK.TermBag("text", Nil, Seq("w0", "w3", "w9"), Nil, Some(0.3))))
    assertSame(viaWand(q, 15), exhaustive(q, 15))
    // tieBreaker 0 (pure max) and 1 (pure sum) edge combiners
    for (tb <- Seq(0.0, 1.0)) {
      val qq = DisjunctionMaxQuery(Seq(TermQuery("text", "w0"), TermQuery("text", "w5")), tb)
      assertSame(viaWand(qq, 10), exhaustive(qq, 10))
    }
  }

  test("ineligible shapes still fall back") {
    // duplicate term in a group
    assert(WandTopK.eligible(BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w0"))))).isEmpty)
    // minimumShouldMatch > 1
    assert(WandTopK.eligible(BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w3"))), Some(2))).isEmpty)
    // msm with must present
    assert(WandTopK.eligible(BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w3"))), Some(1))).isEmpty)
    // cross-field bag
    assert(WandTopK.eligible(BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("other", "w3"))))).isEmpty)
    // non-term clause
    assert(WandTopK.eligible(BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Should, PhraseQuery("text", Seq((0, "w1"), (1, "w2")), 0))))).isEmpty)
    // dismax with out-of-range tieBreaker
    assert(WandTopK.eligible(DisjunctionMaxQuery(
      Seq(TermQuery("text", "w0"), TermQuery("text", "w3")), 1.5)).isEmpty)
  }

  test("missing must term yields empty; missing should term is dropped") {
    val qEmpty = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "nosuchterm")),
      (Occur.Should, TermQuery("text", "w0"))))
    assert(viaWand(qEmpty, 10).isEmpty)
    val qDrop = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "nosuchterm"))))
    assertSame(viaWand(qDrop, 10), exhaustive(qDrop, 10))
  }
}
