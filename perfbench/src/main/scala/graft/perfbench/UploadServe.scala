package graft.perfbench

import java.nio.file.Files
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.StructType

import graft.ingest.Pipeline
import graft.stream.ManifestTable

/** `upload_serve`: the per-upload path, one float file per request, one
  * client waiting for each reply. The server decodes the file, stages it
  * as one parquet drop and runs one AvailableNow drain (RocksDB dedup,
  * manifest commit) with `Pipeline.clean` as the transform; the reply is
  * the end of the drain. The client then reads back its float.
  *
  * Uploads run in fixed-length episodes over a fresh inbox, checkpoint and
  * table, so every run sees the same growth of the file-source log, the
  * state store and the manifest log.
  */
final class UploadServe(ctx: Ctx) extends Workload {
  import UploadServe._
  import ctx.{engine, spark, tr}

  /** Episodes per pass: an episode of 10 uploads and their lookups takes
    * about 5 s on a 4-vCPU host. */
  private val episodes = math.max(2, math.round(ctx.seconds / 5.0).toInt)
  private val filesDir = ctx.work.resolve("upload/files")

  /** Episode plans (the file of each upload, re-sends repeating an earlier
    * file); the last [[WarmUpEpisodes]] are the warm-up. */
  private var plans: Vector[Vector[Corpus.FloatFile]] = Vector.empty
  private var stagedSchema: StructType = _
  private var tableSchema: StructType = _
  private var nextEpisode = 0
  private var uploadsTraced = 0

  def prepare(): Unit = {
    val rnd = new SplittableRandom(ctx.seed * 31 + 17)
    Ctx.rmTree(filesDir)
    Files.createDirectories(filesDir)
    plans = Vector.tabulate(episodes + WarmUpEpisodes) { e =>
      val fresh = UploadsPerEpisode - ResendsPerEpisode
      val files = Vector.tabulate(fresh) { i =>
        // 8..20 profiles x 40..100 levels: a few hundred to 2,000 rows
        val f = Corpus.floatFile(rnd, f"e$e%02d_f$i%02d.nc",
          5000000L + (ctx.seed.abs % 1000) * 1000 + e * 50 + i,
          if (rnd.nextInt(4) == 0) Corpus.Cdf2 else Corpus.Cdf1,
          8 + rnd.nextInt(13), 40 + rnd.nextInt(61))
        Files.write(filesDir.resolve(f.name), f.bytes)
        f
      }
      // re-sends never open an episode, and re-send an upload already made
      val resendAt = Corpus.shuffle(1 until UploadsPerEpisode, rnd)
        .take(ResendsPerEpisode).toSet
      var made = Vector.empty[Corpus.FloatFile]
      val it = files.iterator
      (0 until UploadsPerEpisode).toVector.map { i =>
        if (resendAt(i)) made(rnd.nextInt(made.size))
        else { val f = it.next(); made :+= f; f }
      }
    }
    stagedSchema = engine.ingestNetCdfTolerant(filesDir.toString).schema
    tableSchema = transform(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stagedSchema)).schema
  }

  def warmUp(rec: Recorder): Unit =
    plans.drop(episodes).foreach(p => episode(rec, p.take(WarmUpUploads)))

  def pass(rec: Recorder): Unit = plans.take(episodes).foreach(episode(rec, _))

  private def episode(rec: Recorder, plan: Vector[Corpus.FloatFile]): Unit = {
    val base = ctx.freshDir(s"upload/episode-$nextEpisode")
    nextEpisode += 1
    val inbox = base.resolve("inbox"); val table = base.resolve("table").toString
    val ckpt = base.resolve("checkpoint").toString
    Files.createDirectories(inbox)
    plan.zipWithIndex.foreach { case (file, i) =>
      val fid = file.floatId.toString
      val landing = base.resolve(f"uploads/u$i%03d")
      val query = rec.op("upload.request") {
        Files.createDirectories(landing)
        Files.copy(filesDir.resolve(file.name), landing.resolve(file.name))
        tr.add("sources.files", 1.0)
        tr.add("sources.bytes_in", Files.size(landing.resolve(file.name)).toDouble)
        tr.span("sources.decode") {
          engine.ingestNetCdfTolerant(landing.toString).coalesce(1)
            .write.parquet(inbox.resolve(f"u$i%03d").toString)
        }
        val q = tr.span("stream.query_start") {
          engine.ingestStreamTransactional(s"$inbox/*", stagedSchema, table, ckpt,
            "row_key", transform)
        }
        tr.span("stream.drain")(q.awaitTermination())
        q.exception.foreach(e => throw e)
        q.runId
      }
      if (tr.on) {
        query.foreach(recordStream)
        tr.add("stream.rows_cleaned", file.expected.nRows.toDouble)
        ManifestTable.latest(table).foreach { m =>
          val kept = ManifestTable.pruneFiles(m, Seq(EqualTo("float_id", fid))).size
          tr.add("manifest.versions", m.version + 1.0)
          tr.add("manifest.files", m.files.size.toDouble)
          tr.add("manifest.files_opened", kept.toDouble)
        }
      }
      rec.lookup("upload.lookup") {
        tr.span("manifest.lookup") {
          engine.readTableWhere(table, tableSchema, Seq(EqualTo("float_id", fid)))
            .filter(col("float_id") === fid).select("float_id", "row_key").collect()
        }
      }.foreach { rows =>
        val want = file.expected.nRows
        ctx.check(rows.length == want && rows.forall(_.getString(0) == fid),
          s"upload lookup $fid: ${rows.length} rows, expected $want")
      }
    }
    // end of episode: every committed key once, and exactly the distinct
    // uploads' cleaned rows despite the re-sends
    val t = engine.readTable(table, tableSchema)
    val r = t.agg(count(lit(1)), countDistinct(col("row_key"))).head()
    val want = plan.distinct.map(_.expected.nRows).sum
    ctx.check(r.getLong(0) == r.getLong(1) && r.getLong(0) == want,
      s"upload episode: ${r.getLong(0)} rows, ${r.getLong(1)} keys, expected $want")
    Ctx.rmTree(base)
  }

  /** Traced pass only: fold the drain's micro-batch progress into the
    * stream counters (outside the timed operation).
    */
  private def recordStream(id: java.util.UUID): Unit = {
    tr.streamCounters.awaitTerminated(id)
    val bs = tr.streamCounters.of(id)
    uploadsTraced += 1
    tr.add("stream.batches", bs.size.toDouble)
    tr.add("stream.rows_uploaded", bs.map(_.inputRows).sum.toDouble)
    tr.add("stream.rows_committed", bs.map(_.stateRowsUpdated).sum.toDouble)
    tr.add("stream.state_rows", bs.lastOption.map(_.stateRows).getOrElse(0L).toDouble)
    tr.add("stream.state_commit_ms", bs.map(_.stateCommitMs).sum.toDouble)
    DurationKeys.foreach { case (k, m) =>
      tr.add(m, bs.map(_.durationMs.getOrElse(k, 0L)).sum.toDouble)
    }
  }

  def verify(): Unit = ()

  def layers(): Map[String, Double] = {
    val per = tr.layerMsPerOp("upload.request")
    val lk = tr.layerMsPerOp("upload.lookup")
    val n = uploadsTraced.max(1).toDouble
    val lookups = tr.opSpans.count(_.name == "upload.lookup").max(1).toDouble
    Map(
      "sources.decode_ms" -> per.getOrElse("sources.decode", 0.0),
      "sources.files" -> tr.counts("sources.files") / n,
      "sources.bytes_in" -> tr.counts("sources.bytes_in") / n,
      "sources.rows_out" -> tr.counts("stream.rows_uploaded") / n,
      "stream.query_start_ms" -> per.getOrElse("stream.query_start", 0.0),
      "stream.drain_ms" -> per.getOrElse("stream.drain", 0.0),
      "stream.batches_per_upload" -> tr.counts("stream.batches") / n,
      // new keys / cleaned rows handed over: the distinct uploads' share,
      // about 0.8 with 2 re-sends in 10 (pinned by the episode check)
      "stream.admit_ratio" -> tr.counts("stream.rows_committed") /
        tr.counts("stream.rows_cleaned").max(1.0),
      "stream.state_rows" -> tr.counts("stream.state_rows") / n,
      "stream.state_commit_ms" -> tr.counts("stream.state_commit_ms") / n,
      "manifest.versions" -> tr.counts("manifest.versions") / lookups,
      "manifest.files" -> tr.counts("manifest.files") / lookups,
      "manifest.files_opened_ratio" -> tr.counts("manifest.files_opened") /
        tr.counts("manifest.files").max(1.0),
      "manifest.lookup_ms" -> lk.getOrElse("manifest.lookup", 0.0)
    ) ++ DurationKeys.values.map(m => m -> tr.counts(m) / n)
  }
}

object UploadServe {
  val UploadsPerEpisode = 10
  val ResendsPerEpisode = 2
  /** Untimed episodes before the pass (first-plan codegen, RocksDB JNI
    * load, JIT), cut to their first [[WarmUpUploads]] uploads. */
  val WarmUpEpisodes = 1
  val WarmUpUploads = 6

  /** `StreamingQueryProgress.durationMs` keys → metric names. */
  val DurationKeys: Map[String, String] = Map(
    "latestOffset" -> "stream.latest_offset_ms",
    "getBatch" -> "stream.get_batch_ms",
    "queryPlanning" -> "stream.query_planning_ms",
    "addBatch" -> "stream.add_batch_ms",
    "walCommit" -> "stream.wal_commit_ms",
    "commitOffsets" -> "stream.commit_offsets_ms")

  /** The server's per-batch transform: clean, then key each row by
    * (float, profile, level) for skip-existing dedup.
    */
  def transform(df: DataFrame): DataFrame =
    Pipeline.clean(ArgoBatch.tabular(df), ArgoBatch.TimeUpper)
      .withColumn("row_key", concat_ws("|", col("float_id"),
        col("profile_id").cast("string"), col("level").cast("string")))
}
