package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators are shuffle-shaped for horizontal scale: exact dedup is a
  * hash groupBy; n-gram Jaccard and MinHash-LSH shuffle on shingle/bucket
  * keys (never all-pairs); SimHash bands by pigeonholed chunks. Candidate
  * generation is always followed by an exact verification join, so outputs
  * are exact over the candidate set.
  */
object Dedup {

  /** Exact duplicate groups over `byCols`: one row per group with >1 member,
    * keyed by the minimum id (deterministic representative).
    */
  def exactGroups(df: DataFrame, idCol: String, byCols: Seq[String]): DataFrame =
    df.groupBy(byCols.map(col): _*)
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)
      .select("rep_id", "group_size")

  /** Exact dedup survivors: keep the smallest id per duplicate group.
    * (The reference's upsert-by-unique-field analog, W7:
    * `/root/reference/summa-core/src/components/index_writer_holder.rs:289-346`.)
    */
  def exactSurvivors(df: DataFrame, idCol: String, byCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(byCols.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Word n-gram shingles of a whitespace-tokenized text column (distinct).
    *
    * Compiled loop UDF (r6): the former column form built every shingle
    * through an interpreted `transform(sequence…, slice + concat_ws)` lambda
    * — one array allocation + string join per shingle per evaluation, and
    * the self-join shapes downstream evaluate the shingle pipeline up to 4×
    * (both candidate sides + both verify sides). Semantics are identical to
    * `array_distinct(transform(sequence(0, greatest(size-n, 0)), i =>
    * concat_ws(" ", slice(words, i+1, n))))` over `split(text, " ")`:
    * same single-space word split (trailing empties kept), same
    * `max(size-n, 0)+1` windows (short texts yield one whole-text shingle),
    * same first-occurrence-order dedup — pinned bitwise by an OpsSpec
    * parity test against the old column form.
    */
  def shingles(text: Column, n: Int): Column = shinglesUdf(text, lit(n))

  private val shinglesUdf = udf { (text: String, n: Int) =>
    if (text == null) null
    else {
      val words = text.split(" ", -1)
      val count = math.max(words.length - n, 0) + 1
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i < count) {
        val until = math.min(i + n, words.length)
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < until) {
          if (j > i) sb.append(' ')
          sb.append(words(j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[String](seen.size)
      seen.toArray(out)
      out
    }
  }

  /** Verify candidate (id_a, id_b) pairs with exact Jaccard over the full
    * shingle sets: candidates carry only the two ids through the shuffle; the
    * (distinct, so much smaller) candidate set re-joins the shingle arrays by
    * id — the arrays never ride through the candidate-generation join.
    */
  private def verifyJaccard(
      candidates: DataFrame, withSh: DataFrame, minJaccard: Double): DataFrame =
    candidates
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Exact n-gram Jaccard duplicate pairs via shingle-key self-join:
    * only pairs sharing >= 1 shingle are materialized (shuffle on shingle,
    * not all-pairs), then jaccard = |A∩B| / (|A|+|B|-|A∩B|) exactly over the
    * full shingle sets.
    *
    * @param maxShingleDf when > 0, shingles occurring in more than this many
    *        docs are dropped from CANDIDATE GENERATION (not verification) —
    *        the standard df-cap: one boilerplate shingle shared by f docs
    *        otherwise materializes f² candidate pairs. Trade-off: a pair
    *        whose every shared shingle is hot is missed; near-duplicates
    *        above a meaningful Jaccard threshold share many shingles, almost
    *        all of them rare, so recall loss is negligible in practice.
    *        0 (default) = exact/uncapped.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double,
      maxShingleDf: Long = 0L
  ): DataFrame = {
    val withSh = df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
    val exploded = withSh.select(col("id"), explode(col("sh")).as("s"))
    if (maxShingleDf <= 0) {
      // UNCAPPED exact path (r6): `exploded` is distinct per (id, shingle),
      // so the shingle-key self-join emits exactly ONE row per (pair, shared
      // distinct shingle) — |A∩B| is therefore a map-side-aggregated
      // groupBy count over the join output, and the former shape's wide
      // verification joins (both ~n-string shingle ARRAYS re-attached to
      // every candidate pair, then a per-pair array_intersect) disappear
      // outright. Measured at sf0.1 (1.13M candidate pairs, ~80-shingle
      // docs): 16-17 s → ~2 s. Arithmetic identical: inter is the same
      // shared-distinct-shingle count, |A|/|B| re-join by id from the tiny
      // per-doc size table, jaccard = inter/(|A|+|B|-inter) in the same
      // double division, the same round(…, 4).
      val sizes = withSh.select(col("id"), size(col("sh")).as("sz"))
      return exploded.as("a")
        .join(exploded.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("id").as("id_a"), col("sz").as("__sza")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("sz").as("__szb")), "id_b")
        .withColumn("jaccard",
          col("inter").cast("double") / (col("__sza") + col("__szb") - col("inter")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }
    val keyed = {
        // hot-shingle set via map-side partial aggregation (r6; guide §2.3
        // "aggregate before you shuffle"): the former Window.partitionBy(s)
        // shuffled EVERY exploded (id, shingle) row a second time just to
        // count df; the groupBy shuffles one partially-aggregated row per
        // distinct shingle, and only the (by construction tiny: ≤ occurrences
        // / maxShingleDf) hot set reaches the anti-join, which AQE can then
        // broadcast. Shingles are per-doc distinct, so count(*) == df in
        // both shapes — identical results.
        val hot = exploded.groupBy("s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf)
          .select("s")
        exploded.join(hot, Seq("s"), "left_anti")
      }
    val candidates = keyed.as("a")
      .join(keyed.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, withSh, minJaccard)
  }

  /** Modulus of the oracle-portable hash family: a 30-bit prime keeps every
    * intermediate (`acc*31 + char`, `a*u + b`) far below 2^63, so the SAME
    * plain BIGINT arithmetic is exact in Spark and in the DuckDB oracle — no
    * wrapping semantics to emulate (cf. the HUGEINT mod-2^64 dance the
    * fingerprint oracle needs).
    */
  val HashP = 1000000007L

  /** Oracle-portable string hash: left char fold `h = (h*31 + ascii(c)) mod
    * HashP`, expressed with codegen'd HOFs (Spark) and `list_reduce` (DuckDB
    * oracle) — bit-identical in both engines.
    */
  def portableStringHash(s: Column): Column =
    when(length(s) < 1, lit(0L)).otherwise(
      aggregate(
        sequence(lit(1), length(s)),
        lit(0L),
        (acc, i) => (acc * 31 + ascii(s.substr(i, lit(1)))) % HashP))

  /** MinHash signature column: for each seed `s`, the minimum of the
    * pairwise-independent family `h_s(x) = (a_s·u(x) + b_s) mod HashP` over
    * the doc's shingles, with `u` = [[portableStringHash]] and `(a_s, b_s)`
    * fixed multiplier-derived constants — all codegen'd higher-order
    * functions, no UDF, and exactly reproducible by the DuckDB oracle
    * (r3's xxhash64 family was not SQL-portable, leaving the driver a
    * rows-only check).
    */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    minhashSignatureOfHashes(transform(sh, portableStringHash(_)), numHashes)

  /** Signature over PRE-HASHED shingles (`uh` = array of
    * [[portableStringHash]] values). Callers that band afterwards hash each
    * shingle once here instead of once per seed — the char fold is the
    * expensive part, the per-seed affine map is two multiplies.
    */
  def minhashSignatureOfHashes(uh: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      s => {
        val a = (lit(2654435761L) * (s.cast("long") + 1L)) % HashP
        val b = (lit(1779033703L) * (s.cast("long") + 1L) + 144169L) % HashP
        array_min(transform(uh, u => (a * u + b) % HashP))
      }
    )

  /** Code-point fold identical to [[portableStringHash]]'s column form over
    * all strings, supplementary (non-BMP) characters included: Spark's
    * `length` and `substr` count code points and `ascii` returns the first
    * character's full code point, so the column form folds code points, not
    * UTF-16 units — and so does this loop. OpsSpec's parity test pins it.
    */
  private[ops] def stringHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % HashP
      i += Character.charCount(cp)
    }
    h
  }

  /** Compiled shingles→signature kernel (r6): one loop UDF computing the
    * char fold + all `numHashes` affine min-maps per shingle. The column
    * form evaluated an interpreted lambda per CHARACTER (with a `substr`
    * slice allocation each) for the fold, plus `numHashes` interpreted
    * lambdas per shingle for the signature — q_dedup_minhash at sf0.1 spent
    * ~57 s of its 73.6 s there (the rest is the ngram-shaped candidate/
    * verify part). Arithmetic is the exact column-form sequence — same fold
    * order, same `(a_s·u + b_s) mod P` constants — pinned bitwise by an
    * OpsSpec parity test; [[shinglesUdf]] guarantees `sh` is non-empty for
    * non-null text, so the empty-array edge (column form: array of nulls)
    * cannot arise.
    */
  private[ops] val minhashSigUdf = udf { (sh: Seq[String], numHashes: Int) =>
    if (sh == null) null
    else {
      val as = new Array[Long](numHashes)
      val bs = new Array[Long](numHashes)
      var k = 0
      while (k < numHashes) {
        as(k) = (2654435761L * (k + 1)) % HashP
        bs(k) = (1779033703L * (k + 1) + 144169L) % HashP
        k += 1
      }
      val out = new Array[Long](numHashes)
      java.util.Arrays.fill(out, Long.MaxValue)
      sh.foreach { s =>
        val u = stringHash(s)
        var j = 0
        while (j < numHashes) {
          val h = (as(j) * u + bs(j)) % HashP
          if (h < out(j)) out(j) = h
          j += 1
        }
      }
      out
    }
  }

  /** MinHash + LSH banding near-duplicate pairs. Signatures are banded; docs
    * sharing a band-hash become candidates (shuffle on the band key — a
    * bucket-join, never all-pairs); candidates are verified with exact
    * n-gram Jaccard.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      bands: Int,
      minJaccard: Double
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val withSh = df
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .withColumn("sig", minhashSigUdf(col("sh"), lit(numHashes)))
    // the band join carries ONLY (id, band-key): shingle arrays re-join by id
    // during verification, halving the candidate-shuffle width. The band
    // hash is a fold over the band's signature slice seeded by the band
    // index — same oracle-portable arithmetic as the signatures.
    val banded = withSh.select(
      col("id"),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band"),
            aggregate(
              slice(col("sig"), b * rows + 1, lit(rows)),
              b.cast("long") + 1L,
              (acc, v) => (acc * 1000003L + v) % HashP).as("bh"))
        )
      ).as("bk")
    )
    val candidates = banded.as("a")
      .join(
        banded.as("b"),
        col("a.bk.band") === col("b.bk.band") && col("a.bk.bh") === col("b.bk.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, withSh.select(col("id"), col("sh")), minJaccard)
  }

  /** Modulus of the simhash word-hash family: the largest prime below 2^32,
    * so each of the two 32-bit halves is near-uniform over all 32 bit
    * positions and every fold intermediate (`acc*mult + char` < 2^40) is
    * exact in plain BIGINT arithmetic in both Spark and the DuckDB oracle.
    */
  val SimhashP: Long = 4294967291L

  /** Oracle-portable 64-bit word hash: two independent char folds
    * (multipliers 31 and 131) mod [[SimhashP]], packed high/low — replaces
    * the r4 Murmur3 pair, which no SQL engine can reproduce.
    */
  private[ops] def simhashWordHash(w: String): Long = {
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < w.length) {
      val c = w.charAt(i).toLong
      h1 = (h1 * 31 + c) % SimhashP
      h2 = (h2 * 131 + c) % SimhashP
      i += 1
    }
    (h1 << 32) | h2
  }

  /** 64-bit SimHash over whitespace tokens weighted by tf (pure column
    * expressions would need 64 accumulators; a compact UDF is clearer and
    * this op is per-row embarrassingly parallel). Hash family is
    * oracle-portable — the DuckDB oracle reproduces the full pipeline.
    */
  private val simhashUdf = udf { (text: String) =>
    if (text == null) 0L
    else {
      val counts = new java.util.HashMap[String, Int]()
      text.split(' ').foreach(w => counts.merge(w, 1, _ + _))
      val acc = new Array[Int](64)
      counts.forEach { (w, c) =>
        val h = simhashWordHash(w)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) acc(i) += c else acc(i) -= c
          i += 1
        }
      }
      var out = 0L
      var i = 0
      while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
      out
    }
  }

  def simhash(text: Column): Column = simhashUdf(text)

  /** SimHash near-duplicate pairs with hamming distance <= maxHamming.
    * Banding: split the 64-bit hash into `maxHamming + 1` chunks — any pair
    * within the distance bound shares at least one exact chunk (pigeonhole),
    * so candidates come from a bucket-join on (chunk_index, chunk_value).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val bits = 64 / chunks
    val hashed = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    val chunkCols = (0 until chunks).map { c =>
      struct(
        lit(c).as("chunk"),
        shiftrightunsigned(col("sh"), c * bits).bitwiseAND(lit((1L << bits) - 1)).as("cv"))
    }
    val banded = hashed.select(col("id"), col("sh"), explode(array(chunkCols: _*)).as("ck"))
    banded.as("a")
      .join(
        banded.as("b"),
        col("a.ck.chunk") === col("b.ck.chunk") && col("a.ck.cv") === col("b.ck.cv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      // filter BEFORE the dedup exchange (guide §2.3): hamming is a pure
      // function of the id pair, so every duplicate candidate row carries the
      // same value and the filter commutes with dropDuplicates — but Catalyst
      // cannot prove that, so ordering it first shuffles only the
      // within-distance pairs instead of every chunk-collision candidate.
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact embedding-cosine near-duplicate pairs (all-pairs — use for
    * verification / small dims; the scale path is
    * [[Similarity.lshCosinePairs]]).
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val withNorm = v.withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
    // the broadcast nested-loop join parallelizes over STREAMED-side
    // partitions, and a small embedding table often arrives as ONE file →
    // one task computing all O(n²) pairs; round-robin the streamed side
    // across the session's cores (scale-adaptive, not a tuned constant) so
    // the quadratic kernel uses the whole machine
    val streamed = withNorm.repartition(df.sparkSession.sparkContext.defaultParallelism)
    streamed.as("a")
      .join(withNorm.as("b"), col("a.id") < col("b.id"))
      // per-PAIR dot as one compiled loop (bit-identical fold order — see
      // Similarity.dotPair): the interpreted HOF chain paid ~22 µs per pair
      // here, 44.7 s for 2000² / 2 pairs at sf0.1
      .withColumn("dot", Similarity.dotPair(col("a.v"), col("b.v")))
      .withColumn("cosine", col("dot") / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= minCos)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), round(col("cosine"), 4).as("cosine"))
  }
}
