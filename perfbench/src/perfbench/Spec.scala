package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.search._

/** One query of the seeded stream: a shape, a window size and its words.
  * `k` is 0 for `count`.
  */
final case class Q(id: Int, shape: String, k: Int, words: Seq[String]) {
  private def text(w: String): Query = TermQuery("text", w)
  private def should(ws: Seq[String]): Query = BooleanQuery(ws.map(w => (Occur.Should, text(w))))

  def query: Query = shape match {
    case "term"                            => text(words.head)
    case "or" | "count" | "fetch" | "k100" => should(words)
    case "and" =>
      BooleanQuery((Occur.Must, text(words.head)) +: words.tail.map(w => (Occur.Should, text(w))))
    case "phrase" =>
      PhraseQuery("text", words.tail.zipWithIndex.map { case (w, i) => (i, w) }, words.head.toInt)
    case "match"  => MatchQuery(words.mkString(" "))
    case "dismax" => DisjunctionMaxQuery(words.map(text), 0.1)
    case "head" =>
      BooleanQuery(Seq((Occur.Must, TermQuery("lang", words(0))), (Occur.Should, text(words(1)))))
    case other => sys.error(s"unknown query shape $other")
  }
}

/** An upsert batch: `newCount` pages with fresh keys from row `newStart`,
  * and one overwrite per key in `overKeys`, carrying the content of row
  * `contentStart + i`.
  */
final case class Batch(newStart: Long, newCount: Int, contentStart: Long, overKeys: Array[Long]) {
  def size: Int = newCount + overKeys.length
}

/** The inputs of one run, as written by `perfbench/workload.py`. */
final case class Spec(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    pagesStart: Long,
    pagesCount: Int,
    dfTerms: Seq[String],
    queries: Vector[Q],
    warmup: Vector[Q],
    batches: Vector[Batch])

object Spec {
  def read(path: Path): Spec = {
    val recs = Files.readAllLines(path, UTF_8).asScala.toVector.filter(_.nonEmpty).map(_.split('\t').toVector)
    def one(kind: String): Vector[String] =
      recs.find(_.head == kind).getOrElse(sys.error(s"spec has no $kind record")).tail
    val pages = one("pages")
    def queries(kind: String): Vector[Q] =
      recs.filter(_.head == kind).zipWithIndex.map { case (r, i) => Q(i, r(1), r(2).toInt, r.drop(3)) }
    Spec(
      workload = one("workload").head,
      seed = one("seed").head.toLong,
      seconds = one("seconds").head.toDouble,
      trace = one("trace").head == "1",
      cpus = one("cpus").head.toInt,
      pagesStart = pages(0).toLong,
      pagesCount = pages(1).toInt,
      dfTerms = recs.filter(_.head == "df_term").map(_(1)),
      queries = queries("query"),
      warmup = queries("warmup"),
      batches = recs.filter(_.head == "batch").map(r =>
        Batch(r(1).toLong, r(2).toInt, r(3).toLong, r.drop(4).map(_.toLong).toArray))
    )
  }
}
