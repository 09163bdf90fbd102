package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.PageGen
import graft.index.{IndexBuilder, IndexSchema, Maintenance, Snapshots}
import graft.search.{IndexReader, Reflection, Searcher, WandTopK}

/** One benchmark run: `Main <spec file> <work dir>`. Prints one JSON result
  * line last on stdout; everything else goes to stderr.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spec = Spec.read(Paths.get(args(0)))
    val run = new Run(spec, args(1))
    val metrics =
      try spec.workload match {
        case "serve"  => run.serve()
        case "ingest" => run.ingest()
        case other    => sys.error(s"unknown workload $other")
      }
      finally run.stop()
    System.err.println(s"perfbench: workload=${spec.workload} seed=${spec.seed} " +
      s"attempted=${run.attempted.get} failed=${run.failed.get}")
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${run.failed.get == 0}, "attempted": ${run.attempted.get}, """ +
      s""""failed": ${run.failed.get}, "metrics": {${ms.mkString(", ")}}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** A query's answer: top-k hit addresses with exact score bits, or a count. */
sealed trait Answer
final case class Hits(hits: Vector[(Int, Int, Long)]) extends Answer
final case class Count(n: Long) extends Answer

final class Run(spec: Spec, work: String) {
  private val Schema = IndexSchema.pages
  private val SetupReps = 3
  private val UpsertConf = IndexBuilder.BuildConf(numSegments = 1)
  private val TokenRe = "[0-9A-Za-z#+_]+".r

  val attempted = new AtomicLong
  val failed = new AtomicLong
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val extra = mutable.LinkedHashMap[String, Double]()
  // (seconds, traced) per timed operation of the workload's unit kind
  private val samples = new ConcurrentLinkedQueue[(Double, Boolean)]

  // ------------------------------------------------------------ plumbing

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${spec.cpus}]")
      .appName(s"perfbench-${spec.workload}")
      .config("spark.sql.shuffle.partitions", spec.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // the status store keeps finished jobs and SQL executions for the UI;
      // a long run would otherwise grow the old generation with them
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def span[A](name: String)(body: => A): A =
    if (tracer == null) body else tracer.span(name)(body)

  private def request[A](name: String, id: Long, traced: Boolean)(body: => A): A =
    if (tracer == null) body else tracer.request(name, id, traced)(body)

  /** A timed benchmark operation. Exceptions count as a failed operation. */
  private def op[A](name: String, id: Long, traced: Boolean)(body: => A): Option[(Double, A)] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val a = request(name, id, traced)(body)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: ${System.currentTimeMillis() / 1e3}%.3f $name $id took $secs%.3f s")
      Some((secs, a))
    } catch {
      case e: Exception =>
        failed.incrementAndGet()
        System.err.println(s"perfbench: $name $id failed: $e")
        e.printStackTrace()
        None
    }
  }

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed.incrementAndGet(); System.err.println(s"perfbench: check failed: $what") }

  /** Nearest-rank median; 0 for no samples. */
  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(0.5 * s.size).toInt - 1))
  }

  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  private def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
        .map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  private def writePages(start: Long, n: Long, dir: String): Unit = span("gen.pages") {
    val s = spark
    import s.implicits._
    s.range(start, start + n, 1, spec.cpus * 2).map(i => PageGen.page(i)).toDF()
      .write.mode("overwrite").parquet(dir)
  }

  private def buildIndex(pagesDir: String, idx: String, id: String): Unit =
    span("index.build")(IndexBuilder.build(spark, spark.read.parquet(pagesDir), Schema, idx, id))

  private def openReader(idx: String): IndexReader = span("index.reader_open") {
    val r = new IndexReader(spark, idx)
    r.snapshot
    r.deletes
    r
  }

  /** Set up `SetupReps` times, each from a fresh session, and keep the last.
    * Returns the state and the median set-up seconds. A traced run traces
    * the kept set-up, so layers that work only in set-up (the base build,
    * priming) are measured too.
    */
  private def setUp[S](body: String => S): (S, Double) = {
    val times = ArrayBuffer[Double]()
    var state: Option[S] = None
    for (r <- 1 to SetupReps) {
      stop()
      deleteDir(s"$work/setup${r - 1}")
      val keep = r == SetupReps
      val t0 = System.nanoTime()
      spark = session()
      if (keep && spec.trace) tracer = new Tracer(spark.sparkContext)
      state = Some(request("op.setup", 0, keep)(body(s"$work/setup$r")))
      times += (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $r took ${times.last}%.2f s")
    }
    (state.get, median(times))
  }

  /** The spec's warm-up queries, untimed, between set-up and the timed
    * window, so that the window starts with the query path JIT-compiled. A
    * fixed count, so every run's window starts at the same point. Their
    * answers are not checked; an exception ends the run.
    */
  private def warmUp(searcher: Searcher): Unit = {
    val t0 = System.nanoTime()
    spec.warmup.foreach(runQuery(searcher, _))
    System.err.println(f"perfbench: warm-up: ${spec.warmup.size} queries in ${elapsed(t0)}%.2f s")
  }

  private def hitsOf(rows: Array[Row]): Vector[(Int, Int, Long)] =
    rows.toVector.map(r => (
      r.getAs[Int]("segment_id"),
      r.getAs[Int]("doc_id"),
      java.lang.Double.doubleToLongBits(r.getAs[Double]("score"))))

  /** Run one stream query the way a client does: resolve, plan, collect. */
  private def runQuery(searcher: Searcher, q: Q): Answer = {
    val rq = span("search.resolve")(searcher.resolve(q.query))
    q.shape match {
      case "count" => Count(span("search.count")(searcher.count(rq)))
      case "fetch" =>
        val df = span("search.plan")(searcher.topDocsWithKeys(rq, q.k))
        val rows = span("search.exec")(df.collect())
        check(rows.forall(_.getAs[String]("key") != null), s"query ${q.id}: fetched a hit without its key")
        Hits(hitsOf(rows))
      case _ =>
        val df = span("search.plan")(searcher.topDocs(rq, q.k))
        Hits(hitsOf(span("search.exec")(df.collect())))
    }
  }

  /** The exhaustive scored doc-set of `q`, in the reference tie-break order. */
  private def reference(searcher: Searcher, q: Q): Answer = q.shape match {
    case "count" => Count(searcher.search(q.query).count())
    case _ =>
      Hits(hitsOf(searcher.search(q.query)
        .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc)
        .limit(q.k).collect()))
  }

  /** Compare every recorded answer with the exhaustive reference of its
    * query, on `spec.cpus` threads, outside any timed window.
    */
  private def checkAnswers(searcher: Searcher, answers: Iterable[(Q, Answer)]): Unit = {
    val t0 = System.nanoTime()
    val byQuery = answers.groupBy(_._1.id).values.toVector
    val pool = Executors.newFixedThreadPool(spec.cpus)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val jobs = byQuery.map { group =>
        Future {
          val q = group.head._1
          val want = reference(searcher, q)
          group.foreach { case (_, got) =>
            check(got == want, s"query ${q.id} (${q.shape} ${q.words.mkString(" ")}): $got != exhaustive $want")
          }
        }
      }
      jobs.foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    System.err.println(f"perfbench: checked ${answers.size} answers of ${byQuery.size} queries in ${elapsed(t0)}%.2f s")
  }

  private def liveDocs(reader: IndexReader): Long = reader.applyDeletes(reader.docs).count()

  private def traced(i: Long): Boolean = spec.trace && i % 2 == 1

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ------------------------------------------------------------ workloads

  /** The built index against its pages: `n_docs` of the text field equals
    * the page count, and the df of each seeded sample term equals a count
    * over the pages' text with a plain regex tokenizer.
    */
  private def checkBuild(pagesDir: String, idx: String): Unit = {
    val nDocs = new IndexReader(spark, idx).fieldStats.get("text").map(_.nDocs)
    check(nDocs.contains(spec.pagesCount.toLong), s"build: fieldstats n_docs $nDocs != ${spec.pagesCount} pages")
    val s = spark
    import s.implicits._
    val terms = spec.dfTerms.toSet
    val re = TokenRe
    val counted = s.read.parquet(pagesDir).select("text").as[String]
      .flatMap(t => re.findAllIn(t).map(_.toLowerCase).filter(terms).toSet.toSeq)
      .groupBy("value").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val indexed = new IndexReader(spark, idx).termDfs(spec.dfTerms.map(t => ("text", t)))
    spec.dfTerms.foreach { t =>
      val (want, got) = (counted.getOrElse(t, 0L), indexed.getOrElse(("text", t), 0L))
      check(want == got, s"df($t): index says $got, the pages hold $want")
    }
  }

  /** A closed-loop query stream on a primed index: one client, then
    * `spec.cpus` clients. The single client's unit operation is a block of
    * the stream, one query of each shape, timed as its mean query latency.
    */
  def serve(): Seq[(String, (Double, String))] = {
    val ((pagesDir, idx, reader), setupS) = setUp { dir =>
      writePages(spec.pagesStart, spec.pagesCount, s"$dir/pages")
      buildIndex(s"$dir/pages", s"$dir/index", "base")
      val r = openReader(s"$dir/index")
      span("search.prime")(Reflection.prime(r))
      (s"$dir/pages", s"$dir/index", r)
    }
    extra("search.cache_bytes") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble
    checkBuild(pagesDir, idx)
    val searcher = new Searcher(reader, Schema, collectorCache = None)
    val answers = new ConcurrentLinkedQueue[(Q, Answer)]
    val stream = spec.queries
    val shapes = stream.map(_.shape).distinct.size
    warmUp(searcher)

    // one client: the first 60% of the window, in whole blocks of the
    // stream so that the shape mix is the same in every run
    val t0 = System.nanoTime()
    var i = 0
    var blockS = 0.0
    while (elapsed(t0) < 0.6 * spec.seconds || i % shapes != 0) {
      val q = stream(i % stream.size)
      // a traced run traces whole blocks of the stream, so each traced
      // block holds every shape once
      val on = traced(i / shapes)
      op(s"op.query.${q.shape}", i, on)(runQuery(searcher, q)).foreach { case (secs, a) =>
        blockS += secs
        answers.add((q, a))
      }
      i += 1
      if (i % shapes == 0) {
        samples.add((blockS / shapes, on))
        blockS = 0.0
      }
    }
    val singleClient = i

    // spec.cpus closed-loop clients replay the queries the single client
    // ran; their answers must equal the single client's
    val first = answers.asScala.map { case (q, a) => q.id -> a }.toMap
    val replayed = stream.take(math.min(singleClient, stream.size))
    val cursor = new AtomicLong
    val t1 = System.nanoTime()
    val deadline = t1 + (0.4 * spec.seconds * 1e9).toLong
    val clients = (0 until spec.cpus).map { c =>
      new Thread(() => {
        var j = 0
        while (System.nanoTime() < deadline) {
          val n = cursor.getAndIncrement()
          val q = replayed((n % replayed.size).toInt)
          op(s"op.client.${q.shape}", 1000000L * (c + 1) + j, traced = false)(runQuery(searcher, q)).foreach { case (_, a) =>
            check(first.get(q.id).forall(_ == a), s"query ${q.id}: a replay answered $a, the single client ${first(q.id)}")
          }
          j += 1
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val qps = cursor.get / elapsed(t1)

    extra("search.wand_eligible_share") = wandShare(searcher, stream.take(singleClient))
    extra("search.topk_queries") = stream.take(singleClient).count(_.shape != "count").toDouble
    extra("index.segments_live") = reader.snapshot.map(_.segments.size).getOrElse(0).toDouble
    checkAnswers(searcher, answers.asScala)
    finish(setupS, qps, pagesDir, idx)
  }

  private def wandShare(searcher: Searcher, qs: Seq[Q]): Double = {
    val topk = qs.filter(_.shape != "count")
    if (topk.isEmpty) 0.0
    else topk.count(q => WandTopK.eligible(searcher.resolve(q.query)).isDefined).toDouble / topk.size
  }

  /** Upsert batches beside reads of each new snapshot, then compaction. */
  def ingest(): Seq[(String, (Double, String))] = {
    val n = spec.pagesCount
    val (idx, setupS) = setUp { dir =>
      writePages(spec.pagesStart, n, s"$dir/pages")
      buildIndex(s"$dir/pages", s"$dir/index", "base")
      s"$dir/index"
    }
    val probesPerBatch = spec.queries.size / spec.batches.size
    val upsertS = ArrayBuffer[Double]()
    var liveKeys = n.toLong
    // key row id -> row id of its live content, for overwritten keys
    val contentOf = mutable.LongMap[Long]()
    val keyRanges = ArrayBuffer((spec.pagesStart, n))
    var upserted = 0L
    var tombstones = 0L
    var segmentsLive = 0
    var j = 0
    // batch 0 and its probes are checked but untimed: with the warm-up
    // queries run after them, they warm the upsert and tombstoned paths.
    // Timed batches fill 70% of the window; compaction closes it.
    var t0 = System.nanoTime()
    while ((j < 3 || elapsed(t0) < 0.7 * spec.seconds) && j < spec.batches.size) {
      val timed = j > 0
      val b = spec.batches(j)
      val batchDir = s"$work/batch$j"
      writeBatch(b, batchDir)
      val res = op("op.upsert", j, traced(j)) {
        val segs = span("index.add_documents")(Maintenance.addDocuments(
          spark, idx, Schema, spark.read.parquet(batchDir), s"upsert$j", conf = UpsertConf))
        val r = openReader(idx)
        require(segs.forall(sg => r.snapshot.exists(_.segments.contains(sg))), s"upsert $j: new segments not visible")
        r
      }
      res.foreach { case (secs, reader) =>
        if (timed) {
          upsertS += secs
          upserted += b.size
        }
        liveKeys += b.newCount
        keyRanges += ((b.newStart, b.newCount))
        b.overKeys.indices.foreach(i => contentOf(b.overKeys(i)) = b.contentStart + i)
        val live = liveDocs(reader)
        check(live == liveKeys, s"upsert $j: $live live docs, expected $liveKeys distinct keys")
        segmentsLive = reader.snapshot.map(_.segments.size).getOrElse(0)
        tombstones = reader.deletes.map(_.count()).getOrElse(0L)
        val searcher = new Searcher(reader, Schema, collectorCache = None)
        val answers = ArrayBuffer[(Q, Answer)]()
        for (p <- 0 until probesPerBatch) {
          val q = spec.queries(j * probesPerBatch + p)
          op("op.probe", q.id, traced(j))(runQuery(searcher, q)).foreach { case (qs, a) =>
            if (timed) samples.add((qs, traced(j)))
            answers += ((q, a))
          }
        }
        checkAnswers(searcher, answers)
        if (!timed) {
          warmUp(searcher)
          t0 = System.nanoTime()
        }
      }
      deleteDir(batchDir)
      j += 1
    }

    // compaction: the matched key sets of a few probes must not change
    val probes = spec.queries.take(5)
    def keySets(): Vector[Set[String]] = {
      val s = new Searcher(new IndexReader(spark, idx), Schema, collectorCache = None)
      probes.map(q => s.searchWithDocs(q.query).select("key").collect().map(_.getString(0)).toSet)
    }
    val before = keySets()
    val compactS = op("op.compact", 0, spec.trace) {
      span("index.auto_compact")(Maintenance.autoCompact(spark, idx, Schema, "compact"))
      span("index.vacuum")(Maintenance.vacuum(spark, idx, Schema, "vacuum"))
    }.map(_._1).getOrElse(Double.NaN)
    val after = keySets()
    probes.indices.foreach(p => check(before(p) == after(p), s"probe ${probes(p).id}: matched keys changed by compaction"))
    val live = liveDocs(new IndexReader(spark, idx))
    check(live == liveKeys, s"after compaction: $live live docs, expected $liveKeys")

    extra("index.tombstones_written") = tombstones.toDouble
    extra("index.segments_live") = segmentsLive.toDouble
    extra("search.wand_eligible_share") = wandShare(
      new Searcher(new IndexReader(spark, idx), Schema), spec.queries.take(j * probesPerBatch))
    extra("search.topk_queries") = spec.queries.take(j * probesPerBatch).count(_.shape != "count").toDouble
    // the compacted index holds exactly the live documents: its size is
    // compared with their pages, written once more as parquet
    val livePagesDir = s"$work/live-pages"
    writeLivePages(keyRanges.toSeq, contentOf, livePagesDir)
    // pages written per second of maintenance: the upserted pages plus the
    // live pages compaction rewrites, so that the rate barely depends on how
    // many batches fit in the window
    finish(setupS, (upserted + liveKeys) / (upsertS.sum + compactS), livePagesDir, idx)
  }

  /** An upsert batch as pages parquet: fresh keys, then overwrites of live
    * keys with new content.
    */
  private def writeBatch(b: Batch, dir: String): Unit = span("gen.pages") {
    val s = spark
    import s.implicits._
    val fresh = s.range(b.newStart, b.newStart + b.newCount, 1, spec.cpus).map(i => PageGen.page(i))
    val keys = b.overKeys
    val c0 = b.contentStart
    val over = s.range(0, keys.length.toLong, 1, spec.cpus)
      .map(i => PageGen.page(c0 + i).copy(url = PageGen.page(keys(i.toInt)).url))
    fresh.union(over).toDF().write.mode("overwrite").parquet(dir)
  }

  /** The live documents' pages: every key row with its latest content. */
  private def writeLivePages(keyRanges: Seq[(Long, Int)], contentOf: collection.Map[Long, Long], dir: String): Unit =
    span("gen.pages") {
      val s = spark
      import s.implicits._
      val pairs = keyRanges.flatMap { case (st, c) => (st until st + c).map(k => (k, contentOf.getOrElse(k, k))) }
      s.createDataset(pairs).repartition(spec.cpus)
        .map { case (k, c) => if (k == c) PageGen.page(k) else PageGen.page(c).copy(url = PageGen.page(k).url) }
        .write.mode("overwrite").parquet(dir)
    }

  // ------------------------------------------------------------ metrics

  private def finish(
      setupS: Double,
      workPerS: Double,
      pagesDir: String,
      idx: String): Seq[(String, (Double, String))] = {
    val untraced = samples.asScala.filterNot(_._2).map(_._1)
    val ratio = bytesUnder(idx).toDouble / bytesUnder(pagesDir)
    val rssMb = peakRssMb()
    System.err.println(s"perfbench: ${untraced.size} untraced unit operations (ms): " +
      untraced.map(x => f"${x * 1000}%.0f").mkString(" "))
    if (!spec.trace)
      Seq(
        "setup_s" -> (setupS, "s"),
        // a run holds fewer than 40 unit operations, so no percentile
        // above the median has ten samples beyond it
        "op_p50_ms" -> (1000 * median(untraced), "ms"),
        "work_per_s" -> (workPerS, "1/s"),
        "index_size_ratio" -> (ratio, "ratio"),
        "peak_rss_mb" -> (rssMb, "MB"))
    else layerMetrics(pagesDir, idx)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Probes that only a traced run makes, after the timed window: a
    * standalone analyzer pass over the corpus and snapshot commits.
    */
  private def probes(pagesDir: String, idx: String): Unit = {
    val s = spark
    import s.implicits._
    val tokens = tracer.request("op.analyze", 0, on = true) {
      span("analysis.tokenize") {
        s.read.parquet(pagesDir).select("text").as[String]
          .map(t => IndexBuilder.analyzeFieldFlat("summa", t).len.toLong)
          .reduce(_ + _)
      }
    }
    extra("analysis.tokens") = tokens.toDouble
    val segs = Snapshots.latest(spark, idx).map(_.segments).getOrElse(Nil)
    for (c <- 0 until 5)
      tracer.request("op.commit", c, on = true)(span("index.commit")(Snapshots.commit(spark, idx, segs, s"probe$c")))
    val reader = new IndexReader(spark, idx)
    extra("index.posting_rows") = reader.postings.count().toDouble
    extra("index.terms") = reader.termStatsDf.count().toDouble
  }

  private def layerMetrics(pagesDir: String, idx: String): Seq[(String, (Double, String))] = {
    probes(pagesDir, idx)
    val tr = tracer.finish()
    Files.createDirectories(Paths.get(work).getParent)
    tr.writeJsonl(Paths.get(work).getParent.resolve(s"trace-${spec.workload}-${spec.seed}.jsonl"))

    def ms(ns: Double) = ns / 1e6
    def medianNs(name: String): Double = median(tr.named(name).map(_.nanos.toDouble))
    def selfS(layer: String) = tr.spans.filter(_.layer == layer).map(tr.selfNanos).sum / 1e9
    def perSpan(name: String)(f: Counters => Double): Double = {
      val ss = tr.named(name)
      if (ss.isEmpty) 0.0 else ss.map(s => f(tr.counters(s))).sum / ss.size
    }
    def sumCounters(names: String*)(f: Counters => Double): Double =
      names.map(n => f(tr.sum(n))).sum

    // primary queries: the single-client serve stream and the ingest probes
    val primary = tr.spans.filter(s => s.parent == 0 &&
      (s.name.startsWith("op.query.") || s.name == "op.probe"))
    val primaryIds = primary.map(_.id).toSet
    def phase(name: String) = median(tr.named(name).filter(s => primaryIds(s.parent)).map(s => ms(s.nanos)))
    val probeJobsMs = median(tr.named("search.plan").filter(s => primaryIds(s.parent))
      .map(s => tr.counters(s).jobWallMs.toDouble))
    def perQuery(f: Counters => Double): Double =
      if (primary.isEmpty) 0.0
      else primary.map(root => tr.spans.filter(_.request == root.request)
        .filter(s => s.id == root.id || s.parent == root.id).map(s => f(tr.counters(s))).sum).sum / primary.size
    def shapeExec(shape: String): Double = {
      val roots = tr.named(s"op.query.$shape").map(_.id).toSet
      val inner = if (shape == "count") "search.count" else "search.exec"
      median(tr.named(inner).filter(s => roots(s.parent)).map(s => ms(s.nanos)))
    }
    val probeRoots = tr.named("op.probe").map(_.id).toSet
    val all = samples.asScala.toVector
    val overheadPct = {
      val on = median(all.filter(_._2).map(_._1))
      val off = median(all.filterNot(_._2).map(_._1))
      if (on > 0 && off > 0) 100 * (on / off - 1) else 0.0
    }
    val merges = Seq("index.auto_compact", "index.vacuum")

    val m = Seq[(String, Double, String)](
      ("gen.self_s", selfS("gen"), "s"),
      ("analysis.tokenize_s", tr.named("analysis.tokenize").map(_.nanos).sum / 1e9, "s"),
      ("analysis.tokens", extra("analysis.tokens"), "count"),
      ("index.self_s", selfS("index"), "s"),
      ("index.build_s", medianNs("index.build") / 1e9, "s"),
      ("index.build_cpu_s", perSpan("index.build")(_.cpuNs / 1e9), "s"),
      ("index.build_gc_s", perSpan("index.build")(_.gcMs / 1e3), "s"),
      ("index.build_shuffle_write_bytes", perSpan("index.build")(_.shuffleWrite.toDouble), "bytes"),
      ("index.build_spill_bytes", perSpan("index.build")(_.spill.toDouble), "bytes"),
      ("index.build_tasks", perSpan("index.build")(_.tasks.toDouble), "count"),
      ("index.commit_ms", ms(medianNs("index.commit")), "ms"),
      ("index.postings_bytes", bytesUnder(s"$idx/postings").toDouble, "bytes"),
      ("index.docs_bytes", bytesUnder(s"$idx/docs").toDouble, "bytes"),
      ("index.termstats_bytes", bytesUnder(s"$idx/termstats").toDouble, "bytes"),
      ("index.posting_rows", extra("index.posting_rows"), "count"),
      ("index.terms", extra("index.terms"), "count"),
      ("index.add_documents_s", medianNs("index.add_documents") / 1e9, "s"),
      ("index.reader_open_ms", ms(medianNs("index.reader_open")), "ms"),
      ("index.tombstones_written", extra.getOrElse("index.tombstones_written", 0.0), "count"),
      ("index.segments_live", extra.getOrElse("index.segments_live", 0.0), "count"),
      ("index.merge_s", merges.flatMap(tr.named).map(_.nanos).sum / 1e9, "s"),
      ("index.merge_cpu_s", sumCounters(merges: _*)(_.cpuNs / 1e9), "s"),
      ("index.merge_shuffle_bytes", sumCounters(merges: _*)(_.shuffleWrite.toDouble), "bytes"),
      ("index.merge_spill_bytes", sumCounters(merges: _*)(_.spill.toDouble), "bytes"),
      ("search.self_s", selfS("search"), "s"),
      ("search.resolve_ms", phase("search.resolve"), "ms"),
      ("search.stats_probe_ms", probeJobsMs, "ms"),
      ("search.plan_ms", phase("search.plan"), "ms"),
      ("search.exec_ms", phase("search.exec"), "ms")
    ) ++ Seq("term", "or", "and", "phrase", "match", "dismax", "head", "count", "fetch", "k100").map(sh =>
      (s"search.exec_ms.$sh", shapeExec(sh), "ms")
    ) ++ Seq[(String, Double, String)](
      ("search.exec_ms.tombstoned",
        median(tr.spans.filter(s => probeRoots(s.parent) && (s.name == "search.exec" || s.name == "search.count"))
          .map(s => ms(s.nanos))), "ms"),
      ("search.jobs_per_query", perQuery(_.jobs.toDouble), "count"),
      ("search.tasks_per_query", perQuery(_.tasks.toDouble), "count"),
      ("search.cpu_ms_per_query", perQuery(_.cpuNs / 1e6), "ms"),
      ("search.shuffle_bytes_per_query", perQuery(_.shuffleWrite.toDouble), "bytes"),
      ("search.records_read_per_query", perQuery(_.recordsRead.toDouble), "count"),
      ("search.wand_eligible_share", extra.getOrElse("search.wand_eligible_share", 0.0), "ratio"),
      ("search.topk_queries", extra.getOrElse("search.topk_queries", 0.0), "count"),
      ("search.prime_s", tr.named("search.prime").map(_.nanos).sum / 1e9, "s"),
      ("search.cache_bytes", extra.getOrElse("search.cache_bytes", 0.0), "bytes"),
      ("trace.overhead_pct", overheadPct, "%"),
      ("trace.spans", tr.spans.size.toDouble, "count")
    )
    m.map { case (k, v, u) => k -> (v, u) }
  }
}
