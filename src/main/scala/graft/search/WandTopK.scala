package graft.search

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{FieldNorm, PostingCodec}

/** Block-max WAND top-k (`[tantivy, public]`; SURVEY.md §4.2 — the one
  * genuinely custom physical operator): compute BM25 top-k while *skipping
  * the decode* of posting blocks whose score upper bound cannot beat the
  * running k-th best.
  *
  * Since r6 the routed shapes cover the reference's Block-WAND generality
  * (SURVEY §2.6), not just should-only bags: same-field term-bag booleans
  * with must / should / must-not clauses, and term disjunction-max — the
  * must clauses prune groups structurally (a group missing any must term's
  * block cannot contain a hit), must-not terms are decoded for exclusion
  * only, and dismax combines per-term scores with the exhaustive plan's
  * `mx + tb·(sm − mx)` arithmetic.
  *
  * Distributed shape: posting blocks (not postings!) are shuffled by
  * `(segment_id, block_id)` so all terms' blocks for one docId range are
  * co-located; each partition streams doc-aligned block groups keeping a
  * local top-k heap — a group is decoded only if
  * `Σ_t idf_t · tf_part(block_max_tf_t, len(block_min_norm_t))` (combined
  * with the bag's own combiner) exceeds the local threshold. Per-partition
  * top-k then merges via TakeOrdered. The result is identical to the
  * exhaustive plan (pruning is a pure optimization), verified in tests.
  */
object WandTopK {

  /** A same-field term-bag query recognized for block-max evaluation.
    * `dismax = Some(tb)` means the `should` terms combine as
    * `mx + tb·(sm − mx)` (must/mustNot empty); None means BM25 sum.
    */
  final case class TermBag(
      field: String,
      must: Seq[String],
      should: Seq[String],
      mustNot: Seq[String],
      dismax: Option[Double] = None)

  private val outSchema = StructType(Seq(
    StructField("segment_id", IntegerType, false),
    StructField("doc_id", IntegerType, false),
    StructField("score", DoubleType, false)))

  /** Candidate hit ordered by (score desc, segment asc, doc asc). */
  private final case class Hit(score: Double, seg: Int, doc: Int)
  private val hitOrd: Ordering[Hit] =
    Ordering.by((h: Hit) => (-h.score, h.seg, h.doc))

  /** Per-doc accumulator inside one block group. Must scores accumulate in
    * must-clause order (left-associated, matching the exhaustive plan's
    * `__s0 + __s1 + …`), should scores in should-clause order.
    */
  private final class Acc {
    var mustSeen = 0
    var mustScore = 0.0
    var shouldScore = 0.0
    var mx = 0.0
  }

  def topK(searcher: Searcher, bag: TermBag, k: Int): DataFrame = {
    val reader = searcher.reader
    val spark = reader.spark
    require(reader.deletes.isEmpty,
      "WAND path requires a tombstone-free index (merge first), else use the exhaustive plan")
    val field = bag.field
    val n = reader.fieldStats(field).nDocs
    val avgdl = reader.fieldStats(field).avgdl
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)

    val allTerms = (bag.must ++ bag.should ++ bag.mustNot).distinct
    val dfs = reader.termDfs(allTerms.map((field, _)))
    // an unindexed must term makes the conjunction empty
    if (bag.must.exists(t => !dfs.contains((field, t)))) return empty
    val must = bag.must
    val should = bag.should.filter(t => dfs.contains((field, t)))
    val mustNot = bag.mustNot.filter(t => dfs.contains((field, t)))
    if (must.isEmpty && should.isEmpty) return empty

    val idfs: Map[String, Double] =
      (must ++ should).distinct.map(t => t -> BM25.idf(dfs((field, t)), n)).toMap

    val bcIdfs = spark.sparkContext.broadcast(idfs)
    val bcMust = spark.sparkContext.broadcast(must)
    val bcShould = spark.sparkContext.broadcast(should)
    val bcMustNot = spark.sparkContext.broadcast(mustNot.toSet)
    val dismaxTb = bag.dismax
    val parts = spark.sessionState.conf.numShufflePartitions

    val scanTerms = (must ++ should ++ mustNot).distinct
    val blocks = reader.postings
      .filter(col("field") === field && col("term").isin(scanTerms: _*))
      .select("term", "segment_id", "block_id", "doc_count", "block_max_tf",
        "block_min_norm", "doc_ids", "tfs", "norms")
      .repartition(parts, col("segment_id"), col("block_id"))
      .sortWithinPartitions("segment_id", "block_id")

    val k1 = BM25.K1
    val b = BM25.B

    val candidates = blocks.mapPartitions { rows =>
      val idf = bcIdfs.value
      val mustT = bcMust.value
      val shouldT = bcShould.value
      val notT = bcMustNot.value
      val nMust = mustT.size
      // same operation order as BM25.scoreCol so single-term scores are
      // bitwise identical to the exhaustive plan
      def score(tIdf: Double, tf: Double, normId: Int): Double = {
        val len = FieldNorm.decode(normId).toDouble
        tIdf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * len / avgdl))
      }
      val heap = new java.util.PriorityQueue[Hit](k, hitOrd.reverse) // worst on top
      def threshold: Double =
        if (heap.size < k) Double.NegativeInfinity else heap.peek().score
      def offer(h: Hit): Unit = {
        if (heap.size < k) heap.add(h)
        else if (hitOrd.lt(h, heap.peek())) { heap.poll(); heap.add(h) }
      }

      val it = rows.buffered
      while (it.hasNext) {
        // gather one doc-aligned group: all term-blocks of (seg, block_id)
        val head = it.head
        val seg = head.getInt(1)
        val blockId = head.getInt(2)
        val byTerm = new java.util.HashMap[String, Row](8)
        while (it.hasNext && it.head.getInt(1) == seg && it.head.getInt(2) == blockId) {
          val r = it.next()
          byTerm.put(r.getString(0), r)
        }

        // structural prune: a group missing any must term's block holds no hit
        var mustOk = true
        var mi = 0
        while (mustOk && mi < nMust) {
          mustOk = byTerm.containsKey(mustT(mi)); mi += 1
        }
        if (mustOk) {
          def blockUb(t: String): Double = {
            val r = byTerm.get(t)
            if (r == null) 0.0 else score(idf(t), r.getInt(4).toDouble, r.getInt(5))
          }
          val ub = dismaxTb match {
            case Some(tb) =>
              var sm = 0.0; var mx = 0.0
              shouldT.foreach { t => val u = blockUb(t); sm += u; if (u > mx) mx = u }
              mx + tb * (sm - mx)
            case None =>
              var u = 0.0
              mustT.foreach(t => u += blockUb(t))
              shouldT.foreach(t => u += blockUb(t))
              u
          }
          // decode on ub >= threshold: a block whose bound exactly ties the
          // kth score may hold a doc that wins the (segment, doc) tiebreak —
          // prune only on strict inferiority to stay result-identical
          if (ub >= threshold) {
            val acc = new java.util.TreeMap[Integer, Acc]()
            def decode(t: String)(f: (Int, Double) => Unit): Unit = {
              val r = byTerm.get(t)
              if (r != null) {
                val cnt = r.getInt(3)
                val ids = PostingCodec.unpackDocIds(r.getAs[Array[Byte]](6), cnt)
                val tfs = PostingCodec.unpackVarInts(r.getAs[Array[Byte]](7), cnt)
                val norms = r.getAs[Array[Byte]](8)
                val tIdf = idf(t)
                var i = 0
                while (i < cnt) {
                  f(ids(i), score(tIdf, tfs(i).toDouble, norms(i) & 0xFF))
                  i += 1
                }
              }
            }
            mustT.zipWithIndex.foreach { case (t, ti) =>
              decode(t) { (doc, s) =>
                val a = acc.computeIfAbsent(doc, _ => new Acc)
                // enforce the intersection AND the left-associated sum order:
                // a doc missing an earlier must term stops accumulating
                if (a.mustSeen == ti) { a.mustScore += s; a.mustSeen = ti + 1 }
              }
            }
            shouldT.foreach { t =>
              decode(t) { (doc, s) =>
                val a = acc.computeIfAbsent(doc, _ => new Acc)
                a.shouldScore += s
                if (s > a.mx) a.mx = s
              }
            }
            val excluded: java.util.HashSet[Integer] =
              if (notT.isEmpty) null
              else {
                val ex = new java.util.HashSet[Integer]()
                notT.foreach { t =>
                  val r = byTerm.get(t)
                  if (r != null) {
                    val cnt = r.getInt(3)
                    val ids = PostingCodec.unpackDocIds(r.getAs[Array[Byte]](6), cnt)
                    var i = 0
                    while (i < cnt) { ex.add(ids(i)); i += 1 }
                  }
                }
                ex
              }
            acc.forEach { (doc, a) =>
              if (a.mustSeen == nMust && (excluded == null || !excluded.contains(doc))) {
                val s = dismaxTb match {
                  case Some(tb) => a.mx + tb * (a.shouldScore - a.mx)
                  case None =>
                    if (nMust == 0) a.shouldScore else a.mustScore + a.shouldScore
                }
                offer(Hit(s, seg, doc))
              }
            }
          }
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[Row](heap.size)
      while (!heap.isEmpty) {
        val h = heap.poll()
        out += Row(h.seg, h.doc, h.score)
      }
      out.iterator
    }(Encoders.row(outSchema))

    candidates
      .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc)
      .limit(k)
  }

  /** Recognize a block-max-eligible query: a single term; a same-field
    * term-bag boolean (should-only with msm ≤ 1, or must/should/must-not
    * with no msm); or a same-field term dismax with tieBreaker in [0, 1].
    * Duplicate terms within one occur group fall back to the exhaustive
    * plan (it sums the duplicate clause twice; the idf map here scores each
    * term once per group).
    */
  def eligible(q: Query): Option[TermBag] = q match {
    case TermQuery(f, t) => Some(TermBag(f, Nil, Seq(t), Nil, None))
    case BooleanQuery(clauses, msm) =>
      val termClauses = clauses.collect { case (o, TermQuery(f, t)) => (o, f, t) }
      if (termClauses.size != clauses.size || termClauses.isEmpty) None
      else if (termClauses.map(_._2).distinct.size != 1) None
      else {
        val must = termClauses.collect { case (Occur.Must, _, t) => t }
        val should = termClauses.collect { case (Occur.Should, _, t) => t }
        val mustNot = termClauses.collect { case (Occur.MustNot, _, t) => t }
        val msmOk = if (must.nonEmpty) msm.forall(_ <= 0) else msm.forall(_ <= 1)
        val distinctOk = must.distinct.size == must.size &&
          should.distinct.size == should.size && mustNot.distinct.size == mustNot.size
        if (msmOk && distinctOk && (must.nonEmpty || should.nonEmpty))
          Some(TermBag(termClauses.head._2, must, should, mustNot, None))
        else None
      }
    case DisjunctionMaxQuery(ds, tb) if tb >= 0.0 && tb <= 1.0 =>
      val terms = ds.collect { case TermQuery(f, t) => (f, t) }
      if (terms.size == ds.size && terms.nonEmpty && terms.map(_._1).distinct.size == 1 &&
          terms.distinct.size == terms.size)
        Some(TermBag(terms.head._1, Nil, terms.map(_._2), Nil, Some(tb)))
      else None
    case _ => None
  }
}
