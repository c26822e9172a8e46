package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel

/** One timed span: a root operation (`parent` = -1) or a layer call inside
  * one. Times are wall-clock nanoseconds from `System.nanoTime`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus the layer counters. Disabled, every entry
  * point is a pass-through: the end-to-end loop runs the same calls with no
  * spans, no listeners and no stage materialization.
  */
final class Tracer(spark: SparkSession) {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-op counters recorded at layer boundaries (rows, files, bytes, ...). */
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var nextId = 0
  private var current: Option[Span] = None
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  /** GC time inside each op, by op id. */
  val opGcMs = mutable.Map.empty[Int, Double]

  val sparkCounters = new SparkCounters
  val streamCounters = new StreamCounters

  def enable(): Unit = {
    spark.sparkContext.addSparkListener(sparkCounters)
    spark.streams.addListener(streamCounters)
    on = true
  }

  /** Open a root operation span. The Spark jobs it triggers carry the op id
    * as a local property, so the listeners can attribute them.
    */
  def op[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = nextId; nextId += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkCounters.OpKey, id.toString)
    val gc0 = Tracer.gcMs
    val t0 = System.nanoTime()
    sparkCounters.opStart(id, System.currentTimeMillis())
    val s = Span(id, -1, id, name, t0, 0L)
    current = Some(s)
    try body
    finally {
      val t1 = System.nanoTime()
      sparkCounters.opEnd(id, System.currentTimeMillis())
      spans += s.copy(endNs = t1)
      current = None
      sc.setLocalProperty(SparkCounters.OpKey, null)
      opGcMs(id) = Tracer.gcMs - gc0
      cached.foreach(_.unpersist(blocking = true)); cached.clear()
    }
  }

  /** A layer span inside the current op. */
  def span[T](name: String)(body: => T): T = current match {
    case None => body
    case Some(parent) =>
      val id = nextId; nextId += 1
      val t0 = System.nanoTime()
      try body
      finally spans += Span(id, parent.id, parent.op, name, t0, System.nanoTime())
  }

  /** Traced runs only: compute a lazy stage at its boundary (cache + `noop`
    * write) so the enclosing span covers its compute and later stages read
    * the cached result; returns the row count. Untraced: no-op.
    */
  def materialize(df: DataFrame): (DataFrame, Long) =
    if (!on) (df, -1L)
    else {
      val obs = Observation()
      val d = df.observe(obs, count(lit(1)).as("n")).persist(StorageLevel.MEMORY_ONLY)
      d.write.format("noop").mode("overwrite").save()
      cached += d
      (d, obs.get("n").asInstanceOf[Long])
    }

  def add(counter: String, v: => Double): Unit = if (on) counts(counter) += v

  def opSpans: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Per-layer self time, mean per op named `opName`: the layer's span
    * durations. Layer spans do not nest, so a layer span's self time is its
    * duration.
    */
  def layerMsPerOp(opName: String): Map[String, Double] = {
    val ops = opSpans.filter(_.name == opName).map(_.id).toSet
    if (ops.isEmpty) Map.empty
    else spans.filter(s => s.parent >= 0 && ops(s.op)).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(_.ms).sum / ops.size }
  }

  /** Lowest share of an op's wall time that its child spans cover. */
  def minCoverage: Double = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    val covs = opSpans.map { o =>
      kids.getOrElse(o.id, Nil).map(_.ms).sum / math.max(o.ms, 1e-9)
    }
    if (covs.isEmpty) 0.0 else covs.min
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
}

/** Job, stage and task counts per op, from Spark's public listener API.
  * Jobs are tied to ops by the local property [[SparkCounters.OpKey]]
  * (streaming micro-batch threads inherit it from the starting thread).
  */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var shuffleWrite = 0L
    var startMs = 0L; var endMs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val acc = new ConcurrentHashMap[Int, Acc]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  @volatile private var fenceJob = -1
  @volatile private var fenceDone = false

  private def a(op: Int): Acc = acc.computeIfAbsent(op, _ => new Acc)
  def opStart(op: Int, ms: Long): Unit = a(op).startMs = ms
  def opEnd(op: Int, ms: Long): Unit = a(op).endMs = ms

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(_.getProperty(SparkCounters.FenceKey) != null))
      fenceJob = e.jobId
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.OpKey)))
    op.map(_.toInt).foreach { o =>
      jobStart.put(e.jobId, (o, e.time))
      e.stageIds.foreach(s => stageOp.put(s, o))
      a(o).synchronized { a(o).jobs += 1 }
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { case (o, t0) =>
      a(o).synchronized { a(o).jobIntervals += ((t0, e.time)) }
    }
    if (e.jobId == fenceJob) fenceDone = true
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { o =>
      a(o).synchronized { a(o).stages += 1 }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { o =>
      val m = e.taskMetrics
      a(o).synchronized {
        a(o).tasks += 1
        if (m != null) {
          a(o).runMs += m.executorRunTime
          a(o).shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  /** Op wall time not covered by any of its jobs: planning, scheduling
    * gaps and file IO in the Spark driver JVM.
    */
  def driverGapMs(op: Int): Double = Option(acc.get(op)).map { x =>
    val iv = x.jobIntervals.map { case (s, e) => (s.max(x.startMs), e.min(x.endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) covered += curE - curS
    ((x.endMs - x.startMs) - covered).toDouble.max(0.0)
  }.getOrElse(0.0)

  /** Block until every listener event posted before this call is handled:
    * runs a marker job and waits for its end event (the bus is FIFO).
    */
  def drain(sc: SparkContext): Unit = {
    fenceJob = -1; fenceDone = false
    val prev = sc.getLocalProperty(SparkCounters.OpKey)
    sc.setLocalProperty(SparkCounters.OpKey, null)
    sc.setLocalProperty(SparkCounters.FenceKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(SparkCounters.FenceKey, null)
      sc.setLocalProperty(SparkCounters.OpKey, prev)
    }
    val deadline = System.currentTimeMillis() + 10000
    while (!fenceDone && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

object SparkCounters {
  val OpKey = "perfbench.op"
  val FenceKey = "perfbench.fence"
}

/** Per-micro-batch progress of the upload stream, keyed by run id (a
  * query restarted on the same checkpoint keeps its id but gets a new run
  * id).
  */
final class StreamCounters extends StreamingQueryListener {
  final case class Batch(durationMs: Map[String, Long], inputRows: Long,
      stateRows: Long, stateRowsUpdated: Long, stateCommitMs: Long)
  val batches = new ConcurrentHashMap[java.util.UUID, java.util.List[Batch]]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val st = p.stateOperators.toSeq
    batches.computeIfAbsent(p.runId, _ => java.util.Collections.synchronizedList(
      new java.util.ArrayList[Batch]())).add(Batch(
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, st.map(_.numRowsTotal).sum, st.map(_.numRowsUpdated).sum,
      st.map(_.commitTimeMs).sum))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId)

  /** Wait until the query's terminal event (and so all its progress) arrived. */
  def awaitTerminated(id: java.util.UUID): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (!terminated.contains(id) && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }

  def of(id: java.util.UUID): Seq[Batch] =
    Option(batches.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
}
