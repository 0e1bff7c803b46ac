package graftbench

import java.sql.{Connection, DriverManager}
import java.util.concurrent.{ConcurrentLinkedQueue, ConcurrentSkipListMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{ChangeFeed, Forwarder, HyperRemap}

/** `change_feed`: a subscriber reconnects to a backlog, catches up, then
  * follows live traffic.
  *
  * A generator thread commits wal2json documents (`ChangeFeed.messages`
  * of the corpus, lsn order, densely re-keyed 1..N) into an embedded
  * Derby change table through one JDBC connection. A Structured Streaming
  * query polls it with the engine's `graft.sources.JdbcChangeFeed` source
  * under bounded admission and, per micro-batch, decodes
  * (`ChangeFeed.decodedWithMapFromRaw`), fans out to the subscribers into
  * a parquet sink (`Forwarder.fanoutFromDecoded`, which applies
  * `HyperRemap.remap`) and merges the batch into the last-writer-wins
  * snapshot state (`Forwarder.snapshotState` / `mergeSnapshotState`).
  *
  *  - Drain phase (closed loop): the backlog is committed during set-up;
  *    the stream starts on it and its batches sit at the admission
  *    bound, as large as admission allows. Timed from the end of the
  *    second batch until the backlog is delivered, so stream start,
  *    first-batch compilation and the second batch's warm-up (still
  *    about 1.5× a later batch, and the most variable) are not counted
  *    in the capacity.
  *  - Steady phase (open loop): once the backlog is delivered, commits
  *    arrive at seeded Poisson times at a fixed offered rate of about
  *    half the drain capacity, so batches stay small. A commit's latency
  *    runs from its scheduled time to the end of the `foreachBatch` that
  *    delivered its last lsn and merged it into the snapshot. The first
  *    [[WarmupS]] seconds of commits are delivered and checked but not
  *    timed: batch walls fall fastest over them (small-batch planning
  *    and code paths warming up), and the tail latency would measure
  *    that transient instead of the steady state. A tail
  *    percentile over the rest is taken per [[WindowS]]-second window of
  *    due times and reported as the median over the windows: with batches
  *    of about a second, a run-wide p99 is the single slowest pair of
  *    batches, which moves with any one scheduling hiccup.
  */
object Feed {
  /** Drain backlog, in messages (five admission-bound batches),
    * committed in transactions of [[DrainCommitMsgs]]. */
  val DrainMsgs = 50000
  val DrainCommitMsgs = 1000
  /** Leading drain batches left out of the drain wall. */
  val DrainUntimedBatches = 2
  /** Steady offered load: commits per second, messages per commit. */
  val CommitsPerSec = 120.0
  val MsgsPerCommit = 15
  /** Untimed lead-in of the steady phase, in seconds. */
  val WarmupS = 5
  /** Tail percentiles are taken per window of this many seconds of due
    * times and reported as their median over the windows. */
  val WindowS = 2
  /** Admission bound per micro-batch, in lsns (= messages). */
  val MaxLsnPerTrigger = 10000L
  val SourcePartitions = 2

  case class Commit(first: Long, last: Long, dueNs: Long, steady: Boolean) {
    def timed: Boolean = steady && dueNs >= WarmupS * 1000000000L
  }
  case class BatchRec(id: Long, rows: Long, lsns: Long, maxLsn: Long, startNs: Long,
      endNs: Long, accountMs: Double, fanoutMs: Double, snapshotMs: Double, backlog: Long) {
    def wallMs: Double = (endNs - startNs) / 1e6
    def spansMs: Double = accountMs + fanoutMs + snapshotMs
  }

  /** Message payloads in lsn order and the commit plan; the backlog is
    * already in the change table at `url`. */
  class Input(val url: String, val payloads: Array[String], val commits: Seq[Commit]) {
    val drainLast: Long = commits.filterNot(_.steady).last.last
    val maxLsn: Long = commits.last.last
  }

  def messages(spark: SparkSession, corpus: String): Array[String] =
    ChangeFeed.messages(spark, corpus).orderBy("lsn").select("payload")
      .collect().map(_.getString(0))

  /** Seeded plan: a rotation of the corpus messages (taken cyclically);
    * the backlog commits, then a Poisson schedule over the warm-up and
    * `seconds` (due times relative to the start of the steady phase). */
  def plan(all: Array[String], seed: Long, seconds: Int): (Array[String], Seq[Commit]) = {
    val rng = new java.util.SplittableRandom(seed)
    val offset = rng.nextInt(all.length)
    val commits = Vector.newBuilder[Commit]
    var n = 0
    while (n < DrainMsgs) {
      commits += Commit(n + 1L, (n + DrainCommitMsgs).toLong, 0L, steady = false)
      n += DrainCommitMsgs
    }
    var t = -math.log(1.0 - rng.nextDouble()) / CommitsPerSec
    while (t < WarmupS + seconds) {
      commits += Commit(n + 1L, (n + MsgsPerCommit).toLong, (t * 1e9).toLong, steady = true)
      n += MsgsPerCommit
      t += -math.log(1.0 - rng.nextDouble()) / CommitsPerSec
    }
    (Array.tabulate(n)(i => all((offset + i) % all.length)), commits.result())
  }

  def insert(c: Connection, payloads: Array[String], cm: Commit): Unit = {
    val ps = c.prepareStatement("INSERT INTO changes VALUES (?, ?)")
    try {
      var l = cm.first
      while (l <= cm.last) {
        ps.setLong(1, l); ps.setString(2, payloads((l - 1).toInt)); ps.addBatch()
        l += 1
      }
      ps.executeBatch()
      c.commit()
    } finally ps.close()
  }

  /** Create the change table and commit the backlog. */
  def setup(spark: SparkSession, corpus: String, work: String, seed: Long, seconds: Int): Input = {
    val (payloads, commits) = plan(messages(spark, corpus), seed, seconds)
    val url = s"jdbc:derby:$work/db;create=true"
    val c = DriverManager.getConnection(url)
    try {
      c.createStatement().execute(
        "CREATE TABLE changes (lsn BIGINT PRIMARY KEY, payload VARCHAR(4000))")
      c.setAutoCommit(false)
      commits.filterNot(_.steady).foreach(insert(c, payloads, _))
    } finally c.close()
    new Input(url, payloads, commits)
  }

  case class Result(verifyS: Double, firstBatchS: Double, drainWallS: Double, streamWallS: Double, drainRows: Long, steadyLatMs: Seq[Double], latWindows: Seq[Seq[Double]],
      batches: Seq[BatchRec], drainBatches: Seq[BatchRec], steadyBatches: Seq[BatchRec],
      lateMs: Seq[Double], failedCommits: Int, causes: Seq[String], stateRows: Long,
      entities: Long, sinkFiles: Long, sinkBytes: Long, streamActions: Long, warmupBatches: Int)

  def run(spark: SparkSession, in: Input, work: String, seconds: Int,
      spans: Spans, ledger: Ledger): Result = {
    val dlv = s"$work/deliveries"
    val snap = s"$work/snapshot"
    val recs = new ConcurrentSkipListMap[Long, BatchRec]()
    @volatile var insertedHw = in.drainLast

    def applyBatch(batch: DataFrame, id: Long): Unit = {
      val g = s"batch-$id"
      val t0 = System.nanoTime()
      val agg = batch.agg(count(lit(1)), countDistinct(col("lsn")), max(col("lsn"))).head()
      val t1 = System.nanoTime()
      spans.add(Span("account", g, "batch", t0, t1))
      Forwarder.fanoutFromDecoded(spark, batch)
        .select("sub_id", "lsn", "idx", "base", "kind")
        .write.mode("overwrite").parquet(s"$dlv/batch_$id")
      val t2 = System.nanoTime()
      spans.add(Span("fanout", g, "batch", t1, t2))
      val delta = HyperRemap.remap(spark, batch)
        .withColumn("uid", Forwarder.entityCol)
        .select("base", "uid", "lsn", "idx", "kind")
      val prior = Option(recs.lowerEntry(id)).map(e => s"$snap/state_${e.getKey}")
      val state = prior.fold(Forwarder.snapshotState(delta))(p =>
        Forwarder.mergeSnapshotState(spark.read.parquet(p), delta))
      state.write.mode("overwrite").parquet(s"$snap/state_$id")
      val t3 = System.nanoTime()
      spans.add(Span("snapshot", g, "batch", t2, t3))
      spans.add(Span("batch", g, "", t0, t3))
      recs.put(id, BatchRec(id, agg.getLong(0), agg.getLong(1), agg.getLong(2), t0, t3,
        (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
        math.max(0L, insertedHw - agg.getLong(2))))
    }

    def confirmed: Long = Option(recs.lastEntry()).map(_.getValue.maxLsn).getOrElse(0L)
    val causes = Seq.newBuilder[String]
    val late = new ConcurrentLinkedQueue[java.lang.Double]()
    @volatile var genError: Throwable = null
    @volatile var genDone = false

    val actions0 = ledger.actions
    val q = ChangeFeed.decodedWithMapFromRaw(
      spark.readStream.format("graft.sources.JdbcChangeFeed")
        .option("url", in.url).option("table", "changes").option("startLsn", "0")
        .option("numPartitions", SourcePartitions.toString)
        .option("maxLsnPerTrigger", MaxLsnPerTrigger.toString)
        .load())
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch(applyBatch _)
      .start()
    val streamT0 = System.nanoTime()
    val deadline = streamT0 + (WarmupS + seconds + 60L) * 1000000000L
    def alive: Boolean = q.exception.isEmpty && System.nanoTime() < deadline

    // ---- drain phase
    while (confirmed < in.drainLast && alive) Thread.sleep(2)

    // ---- steady phase: one generator thread, one connection
    val steady = in.commits.filter(_.steady)
    val genT0 = System.nanoTime()
    val gen = new Thread(() => {
      var c: Connection = null
      try {
        c = DriverManager.getConnection(in.url)
        c.setAutoCommit(false)
        steady.foreach { cm =>
          val due = genT0 + cm.dueNs
          var now = System.nanoTime()
          while (now < due) {
            Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
            now = System.nanoTime()
          }
          late.add((now - due) / 1e6)
          insert(c, in.payloads, cm)
          insertedHw = cm.last
        }
      } catch { case t: Throwable => genError = t }
      finally { if (c != null) c.close(); genDone = true }
    }, "feed-generator")
    if (confirmed >= in.drainLast) gen.start() else genDone = true
    while ((!genDone || confirmed < insertedHw) && genError == null && alive) Thread.sleep(2)
    val delivered = confirmed >= in.maxLsn
    q.stop()
    if (gen.isAlive) gen.join()
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val streamActions = ledger.actions - actions0
    Option(genError).foreach(t => causes += s"generator: $t")
    q.exception.foreach(t => causes += s"stream: ${t.getMessage.take(300)}")
    if (!delivered) causes += s"timeout: confirmed lsn $confirmed < ${in.maxLsn}"

    val batches = recs.values.asScala.toSeq
    val (drainBatches, steadyAll) = batches.partition(_.maxLsn <= in.drainLast)
    // steady batches that start after the warm-up
    val (warmupBatches, steadyBatches) =
      steadyAll.partition(_.startNs < genT0 + WarmupS * 1000000000L)
    val ends = new java.util.TreeMap[java.lang.Long, java.lang.Long]() // maxLsn -> batch end
    batches.foreach(b => ends.put(b.maxLsn, b.endNs))
    // drain: the warm batches, from the end of the last untimed one
    val firstBatchS = drainBatches.headOption.fold(0.0)(b => (b.endNs - streamT0) / 1e9)
    val warm = drainBatches.drop(DrainUntimedBatches)
    val drainWallS = warm.lastOption.fold(0.0)(b =>
      (b.endNs - drainBatches(DrainUntimedBatches - 1).endNs) / 1e9)
    val windows = math.max(1, seconds / WindowS)
    val lat = steady.filter(_.timed).flatMap { cm =>
      Option(ends.ceilingEntry(cm.last)).map { e =>
        val w = math.min(windows - 1L, (cm.dueNs / 1000000000L - WarmupS) / WindowS)
        (w, (e.getValue - (genT0 + cm.dueNs)) / 1e6)
      }
    }
    val steadyLatMs = lat.map(_._2)
    val latWindows = lat.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))

    val verifyT0 = System.nanoTime()
    // ---- exactly-once check: deliveries vs the batch fan-out over the
    // committed messages; final state vs the batch snapshot state
    val committedLast = if (genError == null) in.maxLsn else insertedHw
    val committed = ChangeFeed.decodedWithMapFromRaw(spark.createDataFrame(
      (1L to committedLast).map(l => (l, in.payloads((l - 1).toInt)))).toDF("lsn", "payload"))
      .cache()
    val expected = Forwarder.fanoutFromDecoded(spark, committed)
      .select("sub_id", "lsn", "idx", "base", "kind")
    val got =
      if (batches.isEmpty) expected.limit(0)
      else spark.read.parquet(batches.map(b => s"$dlv/batch_${b.id}"): _*)
    val badLsns = multisetDiff(expected, got)
      .select("lsn").distinct().collect().map(_.getLong(0)).sorted
    if (badLsns.nonEmpty) causes += s"${badLsns.length} lsns with missing or extra deliveries"
    val failed = in.commits.count { cm =>
      cm.last > committedLast || ends.ceilingKey(cm.last) == null || {
        val i = java.util.Arrays.binarySearch(badLsns, cm.first)
        val j = if (i >= 0) i else -i - 1
        j < badLsns.length && badLsns(j) <= cm.last
      }
    }
    val expState = Forwarder.snapshotState(HyperRemap.remap(spark, committed)
      .withColumn("uid", Forwarder.entityCol).select("base", "uid", "lsn", "idx", "kind"))
    val entities = expState.count()
    val stateRows = batches.lastOption.fold(0L) { b =>
      val st = spark.read.parquet(s"$snap/state_${b.id}")
      val diff = multisetDiff(st, expState).count()
      if (diff > 0) causes += s"final snapshot state differs from the batch state in $diff rows"
      st.count()
    }
    if (stateRows != entities) causes += s"state rows $stateRows != distinct entities $entities"
    batches.filter(_.lsns > MaxLsnPerTrigger).foreach(b =>
      causes += s"batch ${b.id} admitted ${b.lsns} lsns > bound $MaxLsnPerTrigger")
    committed.unpersist()
    val files = Seq(dlv, snap).flatMap(d => walk(new java.io.File(d)))
    Result((System.nanoTime() - verifyT0) / 1e9, firstBatchS, drainWallS,
      batches.lastOption.fold(0.0)(b => (b.endNs - streamT0) / 1e9), warm.map(_.rows).sum, steadyLatMs, latWindows, batches, drainBatches,
      steadyBatches, late.asScala.toSeq.map(_.doubleValue), failed, causes.result(),
      stateRows, entities, files.size.toLong, files.map(_.length).sum, streamActions,
      warmupBatches.size)
  }

  /** Rows whose multiplicity differs between `a` and `b` (same columns),
    * in one aggregation. */
  def multisetDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = a.columns.toSeq.map(col)
    a.withColumn("_w", lit(1L)).unionByName(b.select(cols: _*).withColumn("_w", lit(-1L)))
      .groupBy(cols: _*).agg(sum("_w").as("_d")).where(col("_d") =!= 0)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil
}
