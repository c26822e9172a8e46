package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.stream.ManifestTable
import graft.vector.{Embed, SemanticWorkload}

/** `semantic_search`: the reference's 79 query texts (per-category k) in
  * seeded order, each through `Engine.search` with a seeded metadata filter
  * over a seeded collection shaped like the fixture `documents` table and
  * stored as a manifest table. Every fourth search is followed by a point
  * read of its top hit's document from that table.
  */
final class SemanticSearch(ctx: Ctx) extends Workload {
  import SemanticSearch._
  import ctx.{engine, spark, tr}

  private val docsTable = ctx.work.resolve("search/doc_table").toString
  private var docs: Vector[Corpus.Doc] = _
  private var documents: DataFrame = _
  /** Searches per pass: whole blocks of the 79 queries, so every run
    * searches the same query mix; about one block per 16 s of `--seconds`
    * (a search takes 170-250 ms and a read of its top hit 70-100 ms on a
    * shared 4-vCPU host). */
  private val searches = SemanticWorkload.Queries.size *
    math.max(1, math.round(ctx.seconds / 16.0).toInt)
  private lazy val plan: Vector[Query] = queryPlan(searches + WarmUpSearches)
  /** (query, result rows) kept for the brute-force check. */
  private val checked = scala.collection.mutable.ArrayBuffer.empty[(Query, Seq[Row])]

  final case class Query(text: String, k: Int, filter: Filter)

  /** One metadata filter: none, `lang =`, `source =` or an `n_chars` range. */
  final case class Filter(kind: Int, value: String, lo: Long, hi: Long) {
    def column: Column = kind match {
      case 0 => lit(true)
      case 1 => col("lang") === value
      case 2 => col("source") === value
      case _ => col("n_chars").between(lo, hi)
    }
    def matches(d: Corpus.Doc): Boolean = kind match {
      case 0 => true
      case 1 => d.lang == value
      case 2 => d.source == value
      case _ => d.nChars >= lo && d.nChars <= hi
    }
  }

  /** Writes the collection as a manifest table in [[TableCommits]] commits
    * (one parquet file each) and opens it as the frame every search scans. */
  def prepare(): Unit = {
    docs = Corpus.documents(ctx.seed, NDocs)
    import spark.implicits._
    Ctx.rmTree(java.nio.file.Paths.get(docsTable))
    docs.grouped(NDocs / TableCommits).zipWithIndex.foreach { case (part, b) =>
      val df = part.map(d => (d.id, d.text, d.lang, d.source, d.nChars))
        .toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      ManifestTable.appendBatch(df, docsTable, b.toLong)
    }
    documents = ManifestTable.read(spark, docsTable)
  }

  /** Seeded query sequence: each block of 79 is a permutation of the
    * reference queries with the four filter kinds dealt evenly.
    */
  private def queryPlan(n: Int): Vector[Query] = {
    val rnd = new SplittableRandom(ctx.seed * 131 + 3)
    val qs = SemanticWorkload.Queries
    val byChars = docs.map(_.nChars).sorted
    Iterator.continually {
      val kinds = Corpus.shuffle(qs.indices.map(_ % 4), rnd)
      Corpus.shuffle(qs, rnd).zip(kinds).map { case ((_, _, k, text), kind) =>
        val lo = byChars(rnd.nextInt(byChars.size / 2))
        Query(text, k, Filter(kind,
          if (kind == 1) Corpus.Langs(rnd.nextInt(Corpus.Langs.size))
          else Corpus.Sources(rnd.nextInt(Corpus.Sources.size)),
          lo, lo + 120))
      }
    }.flatten.take(n).toVector
  }

  def warmUp(rec: Recorder): Unit =
    plan.takeRight(WarmUpSearches).zipWithIndex.foreach { case (q, i) =>
      search(rec, q, keep = false, lookup = i % LookupEvery == 0)
    }

  def pass(rec: Recorder): Unit = plan.take(searches).zipWithIndex.foreach {
    case (q, i) => search(rec, q, keep = i % CheckEvery == 0, lookup = i % LookupEvery == 0)
  }

  private def search(rec: Recorder, q: Query, keep: Boolean, lookup: Boolean): Unit = {
    val rows = rec.op("search.query") {
      val df = tr.span("spark.plan") {
        val d = engine.search(documents, "text", "doc_id", q.text, q.k, q.filter.column, Dim)
        d.queryExecution.executedPlan
        d
      }
      tr.span("vector.knn")(df.collect().toSeq)
    }
    // Traced pass only, outside the timed search: the embedding stage of
    // the search on its own, so its cost and the rows it scores show apart
    // from scoring and top-k.
    if (tr.on) tr.op("search.embed_docs") {
      tr.span("vector.embed_docs") {
        val (_, n) = tr.materialize(documents.filter(q.filter.column)
          .withColumn("__vec", Embed.embed(col("text"), Dim).cast("array<double>")))
        tr.add("vector.docs_scored", n.toDouble)
      }
    }
    rows.foreach { rs =>
      if (keep) checked += ((q, rs))
      rs.find(rank(_) == 1).filter(_ => lookup).map(_.getAs[Long]("doc_id")).foreach { top =>
        rec.lookup("search.lookup") {
          tr.span("manifest.lookup") {
            engine.readTableWhere(docsTable, documents.schema, Seq(EqualTo("doc_id", top)))
              .filter(col("doc_id") === top).select("text").collect()
          }
        }.foreach { got =>
          ctx.check(got.map(_.getString(0)).toSeq == Seq(docs(top.toInt).text),
            s"search lookup of doc $top returned ${got.length} rows")
        }
      }
    }
  }

  /** Brute-force twin of `Engine.search` in plain Scala: the same featurizer
    * (`Embed.embedTokens`), the same double accumulation order and rounding,
    * the same (sim desc, id asc) order.
    */
  def verify(): Unit = {
    val vecs = docs.map(d => Embed.embedTokens(d.text.toLowerCase.split("\\s+").toSeq, Dim))
    checked.foreach { case (q, rows) =>
      val qv = Embed.embedTokens(q.text.toLowerCase.split("\\s+").toSeq, Dim)
      val qn = math.sqrt(dot(qv, qv))
      val want = docs.indices.filter(i => q.filter.matches(docs(i))).flatMap { i =>
        val dn = math.sqrt(dot(vecs(i), vecs(i)))
        if (dn * qn > 0) Some((docs(i).id,
          BigDecimal(dot(vecs(i), qv) / (dn * qn)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        else None
      }.sortBy { case (id, s) => (-s, id) }.take(q.k)
      val got = rows.sortBy(rank)
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("sim")))
      ctx.check(got == want, s"search '${q.text}' ${q.filter}: got $got want $want")
    }
    ctx.check(checked.nonEmpty, "search: no query results checked")
  }

  def layers(): Map[String, Double] = {
    val per = tr.layerMsPerOp("search.query")
    val lk = tr.layerMsPerOp("search.lookup")
    val n = tr.opSpans.count(_.name == "search.query").max(1).toDouble
    Map(
      "spark.plan_ms" -> per.getOrElse("spark.plan", 0.0),
      "vector.embed_docs_ms" ->
        tr.layerMsPerOp("search.embed_docs").getOrElse("vector.embed_docs", 0.0),
      "vector.knn_ms" -> per.getOrElse("vector.knn", 0.0),
      "vector.docs_scored" -> tr.counts("vector.docs_scored") / n,
      "manifest.lookup_ms" -> lk.getOrElse("manifest.lookup", 0.0))
  }
}

object SemanticSearch {
  val NDocs = 5000
  val Dim = 64
  val TableCommits = 4
  val WarmUpSearches = 8
  /** Every n-th timed search is kept for the brute-force check. */
  val CheckEvery = 5
  /** Every n-th search is followed by a read of its top hit. */
  val LookupEvery = 4

  def rank(r: Row): Int = r.getAs[Number]("rank").intValue

  /** Sequential double accumulation over float vectors widened to double,
    * as `VectorExpressions.DotProduct` does. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
}
