package graftbench

import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.{BuildCache, SparkEntry, Tables}

/** `registry_cold`: one client runs a fixed sample of the registered
  * queries (`SparkEntry.queries`) once each, in name order, in a fresh
  * process with the on-disk build cache off, so every shared build is
  * paid inside the measured pass.
  *
  * The whole registry does not fit one run's time budget (a cold pass
  * over all keys takes four to five minutes on 4 cores), so the workload
  * runs a fixed, stratified sample (see [[sample]]). Each query's
  * wall is construction (the registered function: plan building, eager
  * pins and collects, memoized builds) plus the timed action (a digest
  * over the full result, see [[Digest]]) plus an unattributed residue. */
object Registry {
  val Stride = 20

  /** Owning-module groups of `registry.tsv`. */
  val Modules: Seq[String] = Seq("cdc", "relational", "ops.Similarity", "ops.Dedup",
    "ops.Pipeline", "ops.Clean", "ops.Ngrams", "ops.TextStats", "ops.SetJoin", "ops.other")

  case class Entry(key: String, module: String, digest: String)
  /** One query: its wall split into construction and action, and its
    * start and end on the wall clock the scheduler's events use. */
  case class Rec(key: String, module: String, wallS: Double, constructS: Double,
      actionS: Double, buildS: Double, builds: Int, digest: String, cause: String,
      startMs: Long, endMs: Long) {
    def ok: Boolean = cause.isEmpty
  }

  /** `registry.tsv`: key, owning module, expected digest ("-" when the
    * key is outside the sample). */
  def table(path: String): Seq[Entry] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\t")
      Entry(f(0), f(1), f(2))
    }.toVector finally src.close()
  }

  /** Every [[Stride]]-th key in name order, starting with the first,
    * plus the first key of each module group the stride misses, so
    * every group of [[Modules]] is measured; in name order. */
  def sample(all: Seq[Entry]): Seq[Entry] = {
    val sorted = all.sortBy(_.key)
    val stride = sorted.zipWithIndex.collect { case (e, i) if i % Stride == 0 => e }
    val missed = Modules.filterNot(m => stride.exists(_.module == m))
      .flatMap(m => sorted.find(_.module == m))
    (stride ++ missed).sortBy(_.key)
  }

  /** Runs the entries in order; returns their records and the wall of the
    * whole pass, timed by its own clock. */
  def run(spark: SparkSession, corpus: String, entries: Seq[Entry], spans: Spans): (Seq[Rec], Double) = {
    require(BuildCache.root.isEmpty, "registry_cold requires the build cache off (GRAFT_BUILD_CACHE=off)")
    val queries = SparkEntry.queries
    Tables.drainBuildTimes()
    val pass0 = System.nanoTime()
    val recs = entries.map { e =>
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var tc = t0
      var ta = t0
      var digest = ""
      val cause = try {
        val fn = queries.getOrElse(e.key, throw new NoSuchElementException("not registered"))
        val df = fn(spark, corpus)
        tc = System.nanoTime()
        digest = Digest.of(df)
        ta = System.nanoTime()
        if (digest != e.digest) s"digest $digest != recorded ${e.digest}" else ""
      } catch {
        case t: Throwable =>
          if (tc == t0) tc = System.nanoTime()
          ta = System.nanoTime()
          s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"
      }
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val builds = Tables.drainBuildTimes()
      spans.add(Span("query", e.key, "", t0, t1))
      spans.add(Span("construct", e.key, "query", t0, tc))
      spans.add(Span("action", e.key, "query", tc, ta))
      Rec(e.key, e.module, (t1 - t0) / 1e9, (tc - t0) / 1e9, (ta - tc) / 1e9,
        builds.map(_._2).sum, builds.size, digest, cause, startMs, endMs)
    }
    (recs, (System.nanoTime() - pass0) / 1e9)
  }

  /** Digest of every sampled query's dumped result (`<dump>/<key>`, as
    * written by `graft.Verify`), for recording expected digests from a
    * dump the DuckDB oracle has passed. */
  def digestDump(spark: SparkSession, dump: String, entries: Seq[Entry]): Seq[(String, String)] =
    entries.map(e => e.key -> Digest.of(spark.read.parquet(s"$dump/${e.key}")))
}
