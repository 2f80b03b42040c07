package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Sessions, Tables}

/** A fixed slice of the `SparkEntry.queries` board on the sf0.001 fixture
  * copy under `board/`. Each key runs a cold noop write then warm ones, as
  * graft.Bench does, and the session's cache is cleared after each key.
  * Keys and their recorded output digests are listed in `board/keys.tsv`.
  * The workload has no generated input: the seed does not change it.
  */
object Board {
  /** Warm runs per key after its cold run. */
  val WarmRuns = 5

  def fixtureDir(o: Opts): String = o.benchDir.resolve("board/sf0.001").toString

  /** (key, digest) in file order; the digest may be empty when unrecorded. */
  def keys(o: Opts): Seq[(String, String)] =
    Files.readAllLines(o.benchDir.resolve("board/keys.tsv"), StandardCharsets.UTF_8)
      .toArray(Array.empty[String]).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t", -1); f(0) -> (if (f.length > 1) f(1) else "") }

  private def setup(o: Opts, tr: Trace): SparkSession = {
    val spark = tr.span("core.session") { Sessions.local(o.cpus.toString, utc = true) }
    tr.attach(spark)
    val dir = fixtureDir(o)
    tr.span("core.fixture_load") { Tables.names.foreach(n => Tables.load(spark, dir, n)) }
    spark
  }

  /** An order-insensitive digest of a query's rows: the row count and the
    * sum of a 64-bit hash of each row's JSON, columns sorted by name. The
    * values are exact, as the DuckDB oracle compares them. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.select(xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** A QueryExecution id: every id taken later is larger. */
  private def qeMark(spark: SparkSession): Long = spark.range(1).queryExecution.id

  /** Times one noop-write run of `key`, as `phase` ("cold" or "warm").
    * Returns wall seconds, or NaN when the key fails. */
  private def runKey(spark: SparkSession, tr: Trace, o: Opts, key: String,
                     fn: (SparkSession, String) => DataFrame, phase: String): Double = {
    val scope = s"queries.$phase"
    spark.sparkContext.setLocalProperty(Trace.ScopeProp, scope)
    val lo = qeMark(spark)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cgNs0 = WholeStageCodegenExec.codeGenTime
    val t0 = System.nanoTime()
    var t1 = t0
    val ok = try {
      tr.span(s"queries.key") {
        val df = tr.span("queries.build") { fn(spark, fixtureDir(o)) }
        t1 = System.nanoTime()
        tr.span("queries.run") { df.write.format("noop").mode("overwrite").save() }
      }
      true
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $key ($phase) failed: ${e.getMessage}")
      false
    }
    val t2 = System.nanoTime()
    spark.sparkContext.setLocalProperty(Trace.ScopeProp, null)
    tr.scopeQueries(lo, qeMark(spark), scope)
    val tag = s".$phase"
    tr.add(s"queries.build_s$tag", (t1 - t0) / 1e9)
    tr.add(s"queries.run_s$tag", (t2 - t1) / 1e9)
    tr.add(s"queries.wall_s$tag", (t2 - t0) / 1e9)
    tr.add(s"queries.codegen_compiles$tag",
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
    tr.add(s"queries.codegen_ms$tag", (WholeStageCodegenExec.codeGenTime - cgNs0) / 1e6)
    if (ok) (t2 - t0) / 1e9 else Double.NaN
  }

  private def cachedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum

  def run(o: Opts, tr: Trace): Outcome = {
    val spark = setup(o, tr)
    val setupS = Run.sinceStart(o)
    val slice = keys(o)
    val all = SparkEntry.queries
    val missing = slice.map(_._1).filterNot(all.contains)
    missing.foreach(k => System.err.println(s"[perfbench] $k is not in SparkEntry.queries"))
    // one Bench-like pass: per key a cold run, then warm runs, then the
    // cache cleared; the warm figure is the median of the warm runs
    val timed = slice.map(_._1).filter(all.contains).map { key =>
      val fn = all(key)
      val cold = runKey(spark, tr, o, key, fn, "cold")
      tr.add("queries.cached_bytes_left.cold", cachedBytes(spark))
      val warm = Seq.fill(WarmRuns)(runKey(spark, tr, o, key, fn, "warm"))
      tr.add("queries.cached_bytes_left.warm", cachedBytes(spark))
      spark.catalog.clearCache()
      key -> (cold, Stats.median(warm))
    }

    val checkT0 = System.nanoTime()
    val digests = slice.flatMap { case (key, _) =>
      all.get(key).flatMap { fn =>
        try Some(key -> digest(fn(spark, fixtureDir(o))))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $key digest failed: ${e.getMessage}"); None
        } finally spark.catalog.clearCache()
      }
    }.toMap
    val checks = Checks.board(digests, slice.toMap)
    val checkS = (System.nanoTime() - checkT0) / 1e9

    Run.stop(spark)
    // before the traced prewarm, which sets up a second session
    val (heap, rss) = (Run.heapPeakMb(), Run.rssPeakMb())
    if (tr.on) prewarmFromEmpty(o, tr)
    tr.settle()
    val coldS = timed.map(_._2._1).filterNot(_.isNaN).sum
    val warmKey = timed.map(_._2._2).filterNot(_.isNaN)
    val warmS = warmKey.sum
    Outcome(checks,
      Map("setup_s" -> setupS, "heap_peak_mb" -> heap, "cold_s" -> coldS,
        "latency_ms_p50" -> Stats.quantile(warmKey, 0.5) * 1000,
        "throughput_per_s" -> warmKey.size / warmS),
      boardLayers(o, tr),
      Map("key_count" -> slice.size, "rss_peak_mb" -> rss, "check_s" -> checkS,
        "key_s" -> timed.map { case (k, (c, w)) => k -> Seq(c, w) }.toMap,
        "board_cold_s" -> coldS, "board_warm_s" -> warmS,
        "key_warm_s_p50" -> Stats.quantile(warmKey, 0.5),
        "key_warm_s_p95" -> Stats.quantile(warmKey, 0.95),
        "fixture" -> "board/sf0.001"))
  }

  /** Per-layer figures of the board; warm figures are per warm run. */
  private def boardLayers(o: Opts, tr: Trace): Map[String, Double] = {
    Seq("cold" -> 1.0, "warm" -> WarmRuns.toDouble).foreach { case (ph, runs) =>
      Seq("build_s", "run_s", "wall_s", "jobs", "stages", "tasks", "plan_ms", "task_s",
        "scan_bytes", "shuffle_bytes", "spill_bytes", "broadcasts", "bnlj", "gc_s",
        "codegen_compiles", "codegen_ms").foreach { m =>
        val k = s"queries.$m.$ph"
        tr.set(k, tr.get(k) / runs)
      }
      tr.set(s"queries.idle_core_s.$ph",
        o.cpus * tr.get(s"queries.wall_s.$ph") - tr.get(s"queries.task_s.$ph"))
    }
    tr.snapshot
  }

  /** Traced runs only: `SparkEntry.prewarm` in a new session from an
    * empty artifact cache, too slow for the timed runs. */
  private def prewarmFromEmpty(o: Opts, tr: Trace): Unit = {
    val cache = java.nio.file.Paths.get(graft.core.FixtureCache.cacheRoot)
    Run.deleteTree(cache)
    val spark = setup(o, tr)
    try {
      spark.sparkContext.setLocalProperty(Trace.ScopeProp, "core.prewarm")
      val t0 = System.nanoTime()
      tr.span("core.prewarm") { SparkEntry.prewarm(spark, fixtureDir(o)) }
      tr.set("core.prewarm_s", (System.nanoTime() - t0) / 1e9)
    } finally Run.stop(spark)
    tr.set("core.cache_bytes", Run.treeBytes(cache).toDouble)
  }

  /** Rewrites the digests in `board/keys.tsv` for the keys it lists. Run
    * once at a commit whose outputs the DuckDB oracle accepted. */
  def record(o: Opts): Unit = {
    val spark = setup(o, new Trace(false, "record"))
    try {
      val path = o.benchDir.resolve("board/keys.tsv")
      val lines = Files.readAllLines(path, StandardCharsets.UTF_8).toArray(Array.empty[String]).map {
        case l if l.isEmpty || l.startsWith("#") => l
        case l =>
          val k = l.split("\t", -1)(0)
          val d = digest(SparkEntry.queries(k)(spark, fixtureDir(o)))
          spark.catalog.clearCache()
          s"$k\t$d"
      }
      Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    } finally Run.stop(spark)
  }
}
