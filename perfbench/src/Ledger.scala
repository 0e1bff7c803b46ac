package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics over measured samples (linear interpolation between
  * closest ranks). */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** One timed interval. `group` ties the spans of one query or one
  * micro-batch together; `parent` names the enclosing span. */
case class Span(name: String, group: String, parent: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out once, so recording costs one queue append. */
class Spans(enabled: Boolean) {
  private val q = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = if (enabled) q.add(s)
  def all: Seq[Span] = q.asScala.toSeq

  /** Span duration minus the time its direct children cover. */
  def selfMs: Seq[(Span, Double)] = {
    val byParent = all.groupBy(s => (s.group, s.parent))
    all.map { s =>
      val kids = byParent.getOrElse((s.group, s.name), Nil)
      s -> (s.ms - kids.map(_.ms).sum)
    }
  }

  def toJson: String = selfMs.map { case (s, self) =>
    s"""{"name":${Json.q(s.name)},"group":${Json.q(s.group)},"parent":${Json.q(s.parent)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${Json.num(self)}}"""
  }.mkString("[", ",\n", "]")
}

/** Engine counters seen through Spark's listener interfaces: scheduler
  * events (jobs, stages, task metrics, cached blocks), Catalyst phase
  * times per action, and streaming progress per micro-batch. */
class Ledger extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskRunMs = 0L
  @volatile var taskCpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var scanBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var buildJobMs = 0L
  @volatile var planNs = 0L
  @volatile var actions = 0L
  @volatile var cachePeakBytes = 0L
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cacheBytes = 0L
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  /** Every finished job's (start, end), in epoch ms. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  /** Job time by call site (the first user frame of the action). */
  val siteMs = mutable.HashMap.empty[String, Long]
  /** Streaming progress durations by micro-batch id. */
  val progress = new java.util.concurrent.ConcurrentHashMap[Long, java.util.Map[String, java.lang.Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    // AQE submits query-stage jobs from its own threads, so the job's own
    // call site is not the action's; the SQL execution carries it
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
    jobStart(e.jobId) = (e.time, exec.getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("")))
  }
  private val execSite = mutable.HashMap.empty[Long, String]
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      val root = x.rootExecutionId.flatMap(execSite.get)
      val site = if (x.description.contains("runId =")) "micro-batch" else x.description
      execSite(x.executionId) = root.getOrElse(site)
    }
    case _ =>
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, site) =>
      jobIntervals.add((t0, e.time))
      siteMs(site) = siteMs.getOrElse(site, 0L) + e.time - t0
      // the memo build's materializing count in Tables.memoPersist
      if (site.startsWith("count at Tables.scala")) buildJobMs += e.time - t0
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      scanBytes += m.inputMetrics.bytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cacheBytes += now - blockBytes.getOrElse(id, 0L)
      if (now == 0L) blockBytes.remove(id) else blockBytes(id) = now
      cachePeakBytes = math.max(cachePeakBytes, cacheBytes)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Ledger.this.synchronized {
      actions += 1
      planNs += qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.put(e.progress.batchId, e.progress.durationMs)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** p50 over the given micro-batches of the named streaming progress
    * durations, summed per batch. */
  def progressMs(batchId: Long, key: String): Option[Double] =
    Option(progress.get(batchId)).flatMap(m => Option(m.get(key))).map(_.toDouble)

  def progressP50(batchIds: Seq[Long], keys: String*): Double =
    Stats.median(batchIds.flatMap(id => Option(progress.get(id))).map(m =>
      keys.map(k => Option(m.get(k)).map(_.toDouble).getOrElse(0.0)).sum))
}

object Json {
  def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}
