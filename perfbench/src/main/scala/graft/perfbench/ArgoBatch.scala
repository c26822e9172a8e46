package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.ingest.Pipeline
import graft.stream.ManifestTable
import graft.text.Summaries

/** `argo_batch`: the CLI batch lifecycle over a seeded NetCDF corpus on
  * disk. One iteration decodes every file, cleans, aggregates floats and
  * profiles, embeds a summary per float and commits the three tables into
  * fresh manifest dirs; then it reads back a few committed floats.
  */
final class ArgoBatch(ctx: Ctx) extends Workload {
  import ArgoBatch._
  import ctx.{engine, spark, tr}

  private val corpusDir = ctx.work.resolve("argo/corpus")
  /** A small slice of the corpus for the warm-up iteration, which mostly
    * pays first-plan codegen and class loading whatever the data size. */
  private val warmDir = ctx.work.resolve("argo/warm")
  private var corpus: Corpus.ArgoCorpus = _
  private lazy val expected: Map[String, Corpus.Expected] =
    corpus.files.map(_.expected).filter(_.nProfiles > 0).map(e => e.floatId -> e).toMap
  private lazy val floatIds: Vector[String] = expected.keys.toVector.sorted
  private lazy val warmIds: Vector[String] =
    corpus.files.take(WarmFiles).map(_.expected).filter(_.nProfiles > 0).map(_.floatId).sorted
  private val rnd = new SplittableRandom(ctx.seed ^ 0x5DEECE66DL)
  private var iter = 0
  private var lastOut: Path = _
  private var floatsSchema: org.apache.spark.sql.types.StructType = _
  private var quarantined = 0L

  /** Iterations per pass: an iteration and its lookups take 2-3.5 s on a
    * shared 4-vCPU host, so the pass lasts about `--seconds`. */
  private val iterations = math.max(3, math.round(ctx.seconds / 3.0).toInt)

  def prepare(): Unit = {
    corpus = Corpus.argoCorpus(ctx.seed, NGood, NCorrupt)
    Ctx.rmTree(corpusDir)
    corpus.write(corpusDir)
    Ctx.rmTree(warmDir)
    corpus.copy(files = corpus.files.take(WarmFiles), corrupt = corpus.corrupt.take(1))
      .write(warmDir)
  }

  def warmUp(rec: Recorder): Unit = iteration(rec, warmDir, warmIds)

  def pass(rec: Recorder): Unit = (0 until iterations).foreach(_ => iteration(rec, corpusDir, floatIds))

  private def iteration(rec: Recorder, dir: Path, ids: Vector[String]): Unit = {
    val out = ctx.freshDir(s"argo/out-$iter")
    iter += 1
    val (fT, pT, eT) = (s"$out/floats", s"$out/profiles", s"$out/embeddings")
    val ok = rec.op("argo.iteration") {
      val raw = tr.span("sources.decode") {
        val (d, n) = tr.materialize(engine.ingestNetCdfTolerant(dir.toString))
        tr.add("sources.rows_out", n.toDouble)
        tr.add("sources.files", (NGood + NCorrupt).toDouble)
        tr.add("sources.bytes_in", dirBytes(dir).toDouble)
        d
      }
      val cleaned = tr.span("ingest.clean") {
        val (d, n) = tr.materialize(Pipeline.clean(tabular(raw), TimeUpper))
        tr.add("ingest.rows_kept", n.toDouble)
        d
      }
      val floats = tr.span("agg.floats")(tr.materialize(Pipeline.floats(cleaned))._1)
      val profiles = tr.span("agg.profiles")(tr.materialize(Pipeline.profiles(cleaned))._1)
      tr.span("stream.table_commit") {
        ManifestTable.appendBatch(floats, fT, 0L)
        ManifestTable.appendBatch(profiles, pT, 0L)
      }
      floatsSchema = floats.schema
      val docs = tr.span("text.summaries")(tr.materialize(
        engine.readTable(fT, floats.schema).select(col("float_id"),
          Summaries.uploadDescription(col("first_ts"), col("last_ts"),
            col("temperature_min"), col("temperature_max"),
            col("temperature_mean"), col("temperature_count")).as("doc")))._1)
      val emb = tr.span("vector.embed_corpus")(tr.materialize(engine.embedCorpus(docs, "doc"))._1)
      tr.span("stream.table_commit")(ManifestTable.appendBatch(emb, eT, 0L))
      tr.add("stream.bytes_written", dirBytes(out).toDouble)
    }
    if (ok.isDefined) {
      if (lastOut != null) Ctx.rmTree(lastOut)
      lastOut = out
      (0 until LookupsPerIteration).foreach { _ =>
        val id = ids(rnd.nextInt(ids.size))
        rec.lookup("argo.lookup") {
          tr.span("manifest.lookup") {
            engine.readTableWhere(fT, floatsSchema, Seq(EqualTo("float_id", id)))
              .filter(col("float_id") === id).select(FloatCols.map(col): _*).collect()
          }
        }.foreach { rows =>
          ctx.check(rows.length == 1, s"argo lookup $id: ${rows.length} rows")
          rows.headOption.foreach(checkFloat)
        }
      }
    }
  }

  private def checkFloat(r: Row): Unit = {
    val id = r.getString(0)
    expected.get(id) match {
      case None => ctx.check(false, s"argo: unexpected float $id")
      case Some(e) =>
        val got = FloatCols.indices.map(r.get)
        val want = Seq(e.floatId, e.firstTs, e.lastTs, e.nProfiles, e.nRows) ++
          Seq(e.temp, e.psal, e.pres).flatMap(m => Seq(m.count,
            if (m.count == 0) null else m.min, if (m.count == 0) null else m.max,
            if (m.count == 0) null else m.mean))
        ctx.check(got == want, s"argo float $id: got $got want $want")
    }
  }

  def verify(): Unit = {
    val fT = s"$lastOut/floats"
    val floats = engine.readTable(fT, floatsSchema).select(FloatCols.map(col): _*).collect()
    ctx.check(floats.length == expected.size,
      s"argo: ${floats.length} floats committed, expected ${expected.size}")
    floats.foreach(checkFloat)
    val profiles = ManifestTable.read(spark, s"$lastOut/profiles").count()
    val wantProfiles = expected.values.map(_.eavRows).sum
    ctx.check(profiles == wantProfiles, s"argo: $profiles profile rows, expected $wantProfiles")
    val emb = ManifestTable.read(spark, s"$lastOut/embeddings")
      .filter(size(col("embedding")) === 64).count()
    ctx.check(emb == expected.size, s"argo: $emb embeddings, expected ${expected.size}")
    val status = engine.netCdfScanStatus(corpusDir.toString)
      .agg(sum(col("n_rows")), count(when(!col("ok"), 1))).head()
    ctx.check(status.getLong(0) == corpus.rows,
      s"argo: decoded ${status.getLong(0)} rows, expected ${corpus.rows}")
    quarantined = status.getLong(1)
    ctx.check(quarantined == NCorrupt, s"argo: $quarantined files quarantined, expected $NCorrupt")
  }

  def layers(): Map[String, Double] = {
    val per = tr.layerMsPerOp("argo.iteration")
    val lk = tr.layerMsPerOp("argo.lookup")
    val its = tr.opSpans.count(_.name == "argo.iteration").max(1).toDouble
    Map(
      "sources.decode_ms" -> per.getOrElse("sources.decode", 0.0),
      "ingest.clean_ms" -> per.getOrElse("ingest.clean", 0.0),
      "agg.floats_ms" -> per.getOrElse("agg.floats", 0.0),
      "agg.profiles_ms" -> per.getOrElse("agg.profiles", 0.0),
      "text.summaries_ms" -> per.getOrElse("text.summaries", 0.0),
      "vector.embed_corpus_ms" -> per.getOrElse("vector.embed_corpus", 0.0),
      "stream.table_commit_ms" -> per.getOrElse("stream.table_commit", 0.0),
      "manifest.lookup_ms" -> lk.getOrElse("manifest.lookup", 0.0),
      "sources.quarantined" -> quarantined.toDouble,
      "ingest.rows_in" -> tr.counts("sources.rows_out") / its
    ) ++ Seq("sources.files", "sources.bytes_in", "sources.rows_out",
      "ingest.rows_kept", "stream.bytes_written").map(k => k -> tr.counts(k) / its)
  }
}

object ArgoBatch {
  val NGood = 96
  val NCorrupt = 4
  val LookupsPerIteration = 2
  /** Healthy files in the warm-up iteration's corpus. */
  val WarmFiles = 8
  val TimeUpper = "2100-01-01"

  /** Columns of a `Pipeline.floats` row the checks compare. */
  val FloatCols: Seq[String] = Seq("float_id", "first_ts", "last_ts", "n_distinct", "n_rows") ++
    Seq("temperature", "salinity", "pressure").flatMap(m =>
      Seq(s"${m}_count", s"${m}_min", s"${m}_max", s"${m}_mean"))

  /** Decoded NetCDF rows → the column names `Pipeline.clean` expects. */
  def tabular(raw: DataFrame): DataFrame = raw.select(
    col("float_id"), col("profile_id"), col("level"), col("ts").as("time"),
    col("lat").as("latitude"), col("lon").as("longitude"),
    col("pres").as("pressure"), col("temp").as("temperature"),
    col("psal").as("salinity"))

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
