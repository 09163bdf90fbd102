package graft.search

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.index.PostingCodec

/** Block-aligned conjunction plans (optimization guide §2.3 "shuffle fewer
  * bytes" / §3.3 "explode before a join multiplies the shuffle"): instead of
  * exploding each term's posting blocks into per-occurrence `(segment_id,
  * doc_id, …)` rows and sort-merge-joining those, join the PACKED block rows
  * on `(segment_id, block_id)` — one row per (term, block) instead of up to
  * `blockSpan` (1024) rows — and intersect the doc lists inside the matched
  * block with a streaming cursor walk. The join then shuffles ~128–1024×
  * fewer rows for the same result, which is the difference between a
  * conjunction of two mid-df terms shuffling 10⁸ per-occurrence rows at
  * 100× scale and shuffling 10⁵ block rows.
  *
  * Conjunctions and phrases share the one join ([[joinBlocks]]) and the one
  * in-block walk ([[walk]]); phrase scoring and phrase explain read the same
  * [[phraseMatches]] rows, whose alignment is the one
  * [[PostingUdfs.phraseMatchPositions]].
  *
  * Result identity: a doc containing all terms occupies the same
  * `block_id = doc_id >>> blockBits` in every term's postings, so the block
  * join loses no matches; the per-term `(tf, norm_id)` ints surface exactly
  * as the exploded plan produced them, and the caller applies the SAME
  * [[BM25.scoreCol]] column expressions over them, so scores are bitwise
  * identical (pinned by SearchSpec / the sf0.01+sf0.1 oracle sweeps).
  * The postings table holds exactly one row per (segment, field, term,
  * block) — the build's fragment merge guarantees it — so the equi-join is
  * 1:1 per term and can never duplicate matches.
  */
object BlockJoin {

  /** One conjunction match: per-term tf / norm in clause order. */
  final case class MustMatch(doc_id: Int, tfs: Seq[Int], norms: Seq[Int])

  /** One phrase match: first term's norm + the matched base-term alignment
    * positions (their count is the phrase tf).
    */
  final case class PhraseMatch(doc_id: Int, norm_id: Int, mpos: Seq[Int])

  /** Walk k sorted doc-id lists of one (segment, block) and call `emit(doc,
    * cursor)` for every doc of list 0 present in all k lists, where
    * `cursor(t)` is the doc's index in list t. Lists are sorted (pack order),
    * so a single forward cursor per list suffices.
    */
  private def walk(ids: Array[Array[Int]])(emit: (Int, Array[Int]) => Unit): Unit = {
    val k = ids.length
    val cursor = new Array[Int](k)
    val lead = ids(0)
    var i0 = 0
    while (i0 < lead.length) {
      val d = lead(i0)
      var all = true
      var j = 1
      while (all && j < k) {
        val a = ids(j)
        var c = cursor(j)
        while (c < a.length && a(c) < d) c += 1
        cursor(j) = c
        all = c < a.length && a(c) == d
        j += 1
      }
      if (all) {
        cursor(0) = i0
        emit(d, cursor)
      }
      i0 += 1
    }
  }

  /** Intersect k packed doc-id lists of one (segment, block); emit the
    * per-term (tf, norm) ints of every doc present in all k lists.
    */
  val intersectUdf: UserDefinedFunction =
    udf((ds: Seq[Array[Byte]], ts: Seq[Array[Byte]], ms: Seq[Array[Byte]], ns: Seq[Int]) => {
      val k = ns.length
      val ids = Array.tabulate(k)(i => PostingCodec.unpackDocIds(ds(i), ns(i)))
      val tfs = Array.tabulate(k)(i => PostingCodec.unpackVarInts(ts(i), ns(i)))
      val out = Seq.newBuilder[MustMatch]
      walk(ids) { (d, c) =>
        out += MustMatch(d,
          ArraySeq.unsafeWrapArray(Array.tabulate(k)(t => tfs(t)(c(t)))),
          ArraySeq.unsafeWrapArray(Array.tabulate(k)(t => ms(t)(c(t)) & 0xFF)))
      }
      out.result()
    })

  /** Intersect k positional posting blocks of one (segment, block) and align
    * each doc present in all k lists with [[PostingUdfs.phraseMatchPositions]].
    * Emits (doc_id, first-term norm — `m0` is the first term's norms blob,
    * matched positions) for docs with ≥1 alignment.
    */
  val phraseUdf: UserDefinedFunction =
    udf((ds: Seq[Array[Byte]], ts: Seq[Array[Byte]], ps: Seq[Array[Byte]], m0: Array[Byte],
         ns: Seq[Int], offsets: Seq[Int], slop: Int) => {
      val k = ns.length
      val ids = Array.tabulate(k)(i => PostingCodec.unpackDocIds(ds(i), ns(i)))
      val tfs = Array.tabulate(k)(i => PostingCodec.unpackVarInts(ts(i), ns(i)))
      val poss = Array.tabulate(k)(i => PostingCodec.unpackPositions(ps(i), tfs(i)))
      val out = Seq.newBuilder[PhraseMatch]
      walk(ids) { (d, c) =>
        val mpos = PostingUdfs.phraseMatchPositions(
          Seq.tabulate(k)(t => ArraySeq.unsafeWrapArray(poss(t)(c(t)))), offsets, slop)
        if (mpos.nonEmpty) out += PhraseMatch(d, m0(c(0)) & 0xFF, ArraySeq.unsafeWrapArray(mpos))
      }
      out.result()
    })

  /** Block rows of one term, columns suffixed by clause index. */
  private def termBlocks(reader: IndexReader, field: String, term: String, i: Int,
                         withPositions: Boolean): DataFrame = {
    val base = reader.postings.filter(col("field") === field && col("term") === term)
    val filtered = if (withPositions) base.filter(col("positions").isNotNull) else base
    val cols = Seq(
      col("segment_id"), col("block_id"),
      col("doc_count").as(s"__n$i"), col("doc_ids").as(s"__d$i"),
      col("tfs").as(s"__t$i"), col("norms").as(s"__m$i")) ++
      (if (withPositions) Seq(col("positions").as(s"__p$i")) else Nil)
    filtered.select(cols: _*)
  }

  /** The k terms' block rows inner-joined on `(segment_id, block_id)`. */
  private def joinBlocks(reader: IndexReader, terms: Seq[(String, String)],
                         withPositions: Boolean): DataFrame = {
    require(terms.size >= 2)
    terms.zipWithIndex
      .map { case ((f, t), i) => termBlocks(reader, f, t, i, withPositions) }
      .reduce((a, b) => a.join(b, Seq("segment_id", "block_id"), "inner"))
  }

  /** `array(__<prefix>0, …, __<prefix>{n-1})`. */
  private def perTerm(prefix: String, n: Int): Column =
    array((0 until n).map(i => col(s"__$prefix$i")): _*)

  /** Conjunction of ≥2 posting-backed terms via the block join. Returns
    * `(segment_id, doc_id, tfs, norms)` with per-term ints in clause order —
    * the caller scores them with the same column expressions as the exploded
    * plan, so the result is bitwise identical.
    */
  def mustTerms(reader: IndexReader, terms: Seq[(String, String)]): DataFrame = {
    val n = terms.size
    joinBlocks(reader, terms, withPositions = false)
      .select(col("segment_id"), explode(intersectUdf(
        perTerm("d", n), perTerm("t", n), perTerm("m", n), perTerm("n", n))).as("m"))
      .select(col("segment_id"), col("m.doc_id").as("doc_id"),
        col("m.tfs").as("tfs"), col("m.norms").as("norms"))
  }

  /** Phrase matches of ≥2 terms via the block join. Returns `(segment_id,
    * doc_id, norm_id, mpos)` for docs with ≥1 alignment: `mpos` holds the
    * matched base-term positions, `size(mpos)` is the phrase tf, and
    * `norm_id` is the first term's norm. Phrase scoring and phrase explain
    * both read these rows.
    */
  def phraseMatches(reader: IndexReader, field: String, terms: Seq[String],
                    offsets: Seq[Int], slop: Int): DataFrame = {
    val n = terms.size
    joinBlocks(reader, terms.map(t => (field, t)), withPositions = true)
      .select(col("segment_id"), explode(phraseUdf(
        perTerm("d", n), perTerm("t", n), perTerm("p", n), col("__m0"), perTerm("n", n),
        typedLit(offsets), lit(slop))).as("m"))
      .select(col("segment_id"), col("m.doc_id").as("doc_id"),
        col("m.norm_id").as("norm_id"), col("m.mpos").as("mpos"))
  }
}
