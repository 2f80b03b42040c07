package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType,
  StructField, StructType}

import graft.core.Schemas.RemittanceTransaction
import graft.core.Sessions
import graft.functions.JsonCodec
import graft.sources.Sources
import graft.streaming.{Pipelines, StatefulOps}

/** The reference topology as three streaming queries on one file-source
  * directory, like the reference's consumers on one topic:
  *
  *  - risk: `Pipelines.riskPipeline` into a timing sink that records when
  *    each event was emitted;
  *  - metrics: `Pipelines.metricsPipeline` (10 s windows) into
  *    `Sources.upsertBatch` on in-memory Derby;
  *  - senders: `StatefulOps.senderRunningTotals` over 100 k sender keys on
  *    the RocksDB state store.
  *
  * One run has two phases on one session. The paced phase feeds the
  * queries open-loop at a fixed rate under the reference's 500 ms trigger
  * and measures emit latency; per-batch fixed cost decides it. The drain
  * phase then has three new queries drain a pre-written backlog with
  * bounded intake per micro-batch and measures throughput; per-row work
  * decides it. The paced phase leaves the JVM warm for the drain.
  */
object Streams {
  /** Paced: offered events per second, one file every FileMs, seconds of
    * load before latency is sampled (the first micro-batches pay plans,
    * codegen and JIT, then the queries catch up on the backlog they left)
    * and after it, before the sentinel. */
  val PacedRate = 1000
  val FileMs = 100
  val WarmupS = 14
  val TailS = 2
  /** Latency is sampled over this many times `--seconds`: a risk
    * micro-batch takes about 0.7 s, and the median needs many of them. */
  val MeasureTimes = 2
  /** Drain: backlog events per second of `--seconds`, event-time spacing
    * (as at 10 k events/s, so windows close throughout the drain), events
    * per file and files admitted per micro-batch (100 k events). */
  val DrainPerSecond = 30000
  val DrainSpacing = 10000
  val DrainFileEvents = 10000
  val DrainFilesPerTrigger = 10
  /** A generator that falls behind its schedule by more than one trigger
    * interval makes the run invalid. */
  val MaxLateMs = 500L
  val Queries: Seq[String] = Seq("risk", "metrics", "senders")

  private val textSchema = StructType(Seq(StructField("value", StringType)))

  private def setupSession(tr: Trace, cpus: Int): SparkSession = {
    val spark = tr.span("core.session") { Sessions.local(cpus.toString, utc = true) }
    // RocksDB, unless the engine's own session already chose a state store
    val provider = "spark.sql.streaming.stateStore.providerClass"
    if (spark.conf.getOption(provider).forall(_.contains("HDFSBackedStateStoreProvider")))
      spark.conf.set(provider,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    tr.attach(spark)
    spark
  }

  /** One phase's own input, checkpoints and Derby database. */
  final case class Phase(name: String, in: Path, stage: Path, root: Path,
                         jdbc: Sources.JdbcConfig)

  private def phase(o: Opts, spark: SparkSession, name: String): Phase = {
    val p = Phase(name, Run.dir(o, s"$name-in"), Run.dir(o, s"$name-stage"),
      Run.dir(o, s"$name-ck"),
      Sources.JdbcConfig(s"jdbc:derby:memory:perfbench_$name;create=true", "", ""))
    createMetricsTable(spark, p.jdbc)
    p
  }

  /** The sink table as `upsertBatch` would create it, plus a
    * `committed_at` column the database fills when each row is written. */
  private def createMetricsTable(spark: SparkSession, cfg: Sources.JdbcConfig): Unit = {
    val schema = Pipelines.metricsPipeline(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), textSchema)).schema
    val cols = schema.fields.map { f =>
      val t = f.dataType match {
        case LongType | IntegerType => "BIGINT"
        case DoubleType => "DOUBLE"
        case _ => "VARCHAR(4000)"
      }
      s"${f.name} $t"
    } :+ "committed_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP"
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE ${cfg.table} (${cols.mkString(", ")})")
      finally st.close()
    } finally conn.close()
  }

  def nowUs(): Long =
    Trace.originEpochMs * 1000L + (System.nanoTime() - Trace.originNs) / 1000L

  /** What the sinks saw: event `i`'s emission count, line hash and emit
    * time; each risk sink call's (batch id, end, rows); each metrics sink
    * call's end. */
  final class Seen(val n: Int) {
    val count = new Array[Byte](n)
    val lineHash = new Array[Int](n)
    val emitUs = new Array[Long](n)
    val foreign = new AtomicLong()
    val riskCalls = mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val metricsEnds = mutable.ArrayBuffer.empty[Long]
    @volatile var emitted = 0L
  }

  final case class Running(risk: StreamingQuery, metrics: StreamingQuery,
                           senders: StreamingQuery, startUs: Long) {
    def all: Seq[StreamingQuery] = Seq(risk, metrics, senders)
  }

  /** Starts the three queries on the phase's input. The risk sink uses
    * `ids` only to map emitted ids back to events. */
  private def start(spark: SparkSession, tr: Trace, p: Phase, ids: Gen, seen: Seen,
                    trigger: Trigger, maxFiles: Option[Int]): Running = {
    import spark.implicits._
    def source(): DataFrame = tr.span("sources.file_stream") {
      Sources.fileStream(spark, p.in.toString, textSchema, "text", maxFiles)
    }
    def ck(q: String) = p.root.resolve(q).toString
    val startUs = nowUs()

    val riskDf = tr.span("streaming.risk_pipeline") { Pipelines.riskPipeline(source()) }
    val risk = riskDf.select("transactionId", "timestamp", "line", "latency")
      .writeStream.option("checkpointLocation", ck("risk")).trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tr.span("streaming.sink", parentKey = s"risk:$id") {
          val rows = batch.collect()
          val end = nowUs()
          rows.foreach { r =>
            val i = ids.indexOf(r.getString(0))
            if (i < 0 || i >= seen.n) seen.foreign.incrementAndGet()
            else {
              val k = i.toInt
              if (seen.count(k) < Byte.MaxValue) seen.count(k) = (seen.count(k) + 1).toByte
              seen.lineHash(k) = r.getString(2).hashCode
              seen.emitUs(k) = end
            }
          }
          seen.riskCalls.synchronized { seen.riskCalls += ((id, end, rows.length)) }
          seen.emitted += rows.length
        }
        ()
      }.queryName("risk").start()

    val metricsDf = tr.span("streaming.metrics_pipeline") { Pipelines.metricsPipeline(source()) }
    val metrics = metricsDf.writeStream.option("checkpointLocation", ck("metrics"))
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tr.span("sources.upsert", parentKey = s"metrics:$id") {
          Sources.upsertBatch(batch, p.jdbc)
        }
        seen.metricsEnds.synchronized { seen.metricsEnds += nowUs() }
        ()
      }.queryName("metrics").start()

    val txs = JsonCodec.parseTransactions(source(), col("value"))
      .filter(!col("_corrupt")).drop("_corrupt").as[RemittanceTransaction]
    val sendersDs = tr.span("streaming.senders_pipeline") {
      StatefulOps.senderRunningTotals(spark, txs, alertThreshold = 50000.0)
    }
    val senders = sendersDs.writeStream.format("noop")
      .option("checkpointLocation", ck("senders")).trigger(trigger)
      .queryName("senders").start()
    Running(risk, metrics, senders, startUs)
  }

  private def progressMs(ts: String): Long = java.time.Instant.parse(ts).toEpochMilli

  /** Seconds from the queries' start until every query has finished its
    * first micro-batch with input. */
  private def firstBatchSeconds(r: Running): Double = r.all.map { q =>
    q.recentProgress.find(_.numInputRows > 0)
      .map(p => progressMs(p.timestamp) + p.durationMs.get("triggerExecution").longValue)
      .map(endMs => (endMs * 1000L - r.startUs) / 1e6).getOrElse(Double.NaN)
  }.max

  /** Waits until the query ran a micro-batch whose watermark is at or past
    * `ms`, which emits every window that ends by then. */
  private def awaitWatermark(q: StreamingQuery, ms: Long, deadlineMs: Long): Unit = {
    def wm: Long = q.recentProgress.reverseIterator
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(progressMs).nextOption().getOrElse(Long.MinValue)
    while (wm < ms && System.currentTimeMillis() < deadlineMs && q.isActive) Thread.sleep(50)
  }

  // ---- checks -------------------------------------------------------------

  /** Checks all three outputs of a phase whose input was events 0..n-1 of
    * `gen` plus the sentinel n. */
  private def check(spark: SparkSession, p: Phase, gen: Gen, seen: Seen, n: Int): Checks.Tally = {
    import spark.implicits._
    val want = new Array[Int](n + 1)
    java.util.stream.IntStream.rangeClosed(0, n).parallel()
      .forEach(i => want(i) = gen.riskLine(i.toLong).hashCode)
    val risk = Checks.risk(n + 1, seen.count, seen.lineHash, seen.foreign.get, want(_))

    // the windows the sentinel closed: all ending by the last real event's
    // window end
    val lastEnd = (gen.dueMs(n - 1) / Gen.WindowMs + 1) * Gen.WindowMs
    val sunk = readWindows(p.jdbc).map(_._1).filter(_.end <= lastEnd)
    val raw = spark.read.text(p.in.toString)
    val batch = Pipelines.metricsPipeline(raw)
      .filter(col("window_end") <= lastEnd).collect().map(windowOf).toSeq
    val tally = mutable.Map.empty[Long, (Long, Long, Long)]
    var i = 0
    while (i < n) {
      val s = gen.dueMs(i) / Gen.WindowMs * Gen.WindowMs
      val (c, ok, bad) = tally.getOrElse(s, (0L, 0L, 0L))
      tally(s) = if (gen.rateOf(i) != 0.0) (c + 1, ok + 1, bad) else (c + 1, ok, bad + 1)
      i += 1
    }
    val metrics = Checks.metrics(sunk, batch, tally.toMap)

    val state = spark.read.format("statestore").load(p.root.resolve("senders").toString)
      .select(col("key.value"), col("value.groupState._1"), col("value.groupState._2"))
      .as[(String, Double, Long)].collect().map { case (k, a, c) => k -> (a, c) }.toMap
    // the generator's own group-by of every event it wrote, sentinel included
    val totals = mutable.HashMap.empty[String, (Double, Long)]
    (0 to n).foreach { i =>
      val (a, c) = totals.getOrElse(gen.sender(i), (0.0, 0L))
      totals(gen.sender(i)) = (a + gen.amount(i), c + 1)
    }
    risk + metrics + Checks.senders(state, totals.toMap)
  }

  private def windowOf(r: Row): Checks.Window = Checks.Window(
    r.getAs[Long]("window_start"), r.getAs[Long]("window_end"), r.getAs[Long]("cnt"),
    r.getAs[Long]("success_cnt"), r.getAs[Long]("failure_cnt"),
    r.getAs[Double]("avg_amount"), r.getAs[Double]("avg_rate"),
    r.getAs[Double]("min_amount"), r.getAs[Double]("max_amount"), r.getAs[String]("line"))

  /** Windows in the sink table, with the epoch ms each row was written. */
  private def readWindows(cfg: Sources.JdbcConfig): Seq[(Checks.Window, Long)] = {
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT * FROM ${cfg.table}")
      val out = mutable.ArrayBuffer.empty[(Checks.Window, Long)]
      while (rs.next()) out += (Checks.Window(
        rs.getLong("window_start"), rs.getLong("window_end"), rs.getLong("cnt"),
        rs.getLong("success_cnt"), rs.getLong("failure_cnt"),
        rs.getDouble("avg_amount"), rs.getDouble("avg_rate"),
        rs.getDouble("min_amount"), rs.getDouble("max_amount"),
        rs.getString("line")) -> rs.getTimestamp("committed_at").getTime)
      out.toSeq
    } finally conn.close()
  }

  // ---- phases -------------------------------------------------------------

  final case class Paced(checks: Checks.Tally, coldS: Double, latencyMs: Seq[Double],
                         windowEmitMs: Seq[Double], lateMaxMs: Long, backlogEnd: Long,
                         events: Int, wallS: Double, checkS: Double,
                         batchMs: Map[String, Double])

  private def paced(o: Opts, tr: Trace, spark: SparkSession, p: Phase): Paced = {
    val perFile = PacedRate * FileMs / 1000
    val measureS = MeasureTimes * o.seconds
    val nFiles = (WarmupS + measureS + TailS) * 1000 / FileMs
    val n = nFiles * perFile
    val seen = new Seen(n + 1)
    val r = start(spark, tr, p, new Gen(o.seed, PacedRate, 0L), seen,
      Sources.DefaultTrigger, None)
    // due times start once the queries run; one generator thread writes on
    // a fixed schedule that never waits for the engine
    val t0 = System.currentTimeMillis() + 100
    val gen = new Gen(o.seed, PacedRate, t0)
    val lateMax = new AtomicLong()
    val backlogEnd = new AtomicLong()
    val writer = new Thread(() => {
      var k = 0
      while (k < nFiles) {
        val due = t0 + (k + 1).toLong * FileMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        tr.span("gen.write") {
          gen.writeFile(p.stage, p.in, f"f-$k%08d.json", k.toLong * perFile,
            (k + 1).toLong * perFile, gen.dueMs)
        }
        lateMax.accumulateAndGet(System.currentTimeMillis() - due, math.max)
        k += 1
      }
      backlogEnd.set(n - seen.emitted)
      val sentinelTs = gen.dueMs(n) + 86400000L
      gen.writeFile(p.stage, p.in, f"f-$nFiles%08d.json", n.toLong, n + 1L, _ => sentinelTs)
    }, "perfbench-gen")
    writer.setDaemon(true)
    writer.start()
    writer.join()
    val deadline = System.currentTimeMillis() + 60000
    while (seen.emitted < n + 1 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    awaitWatermark(r.metrics, gen.dueMs(n - 1), deadline)
    val wallS = (nowUs() - r.startUs) / 1e6
    val coldS = firstBatchSeconds(r)
    r.all.foreach(_.stop())
    val winStart = t0 + WarmupS * 1000L
    val winEnd = winStart + measureS * 1000L
    val batchMs = r.all.map { q =>
      q.name -> Stats.median(q.recentProgress.toSeq
        .filter(pr => progressMs(pr.timestamp) >= winStart && progressMs(pr.timestamp) < winEnd)
        .map(_.durationMs.get("triggerExecution").doubleValue))
    }.toMap

    // latency: events due in the measured window, from due time to emit
    val from = WarmupS * PacedRate
    val until = (WarmupS + measureS) * PacedRate
    val lat = (from until until).collect {
      case i if seen.count(i) > 0 =>
        seen.emitUs(i) / 1000.0 - (t0 + i.toDouble * 1000.0 / PacedRate)
    }
    // window emit: the first metrics sink call ending at or after a window
    // row was written committed it
    val ends = seen.metricsEnds.synchronized(seen.metricsEnds.map(_ / 1000.0).sorted.toSeq)
    val rows = readWindows(p.jdbc)
    val windowEmit = rows.filter(_._1.end <= gen.dueMs(n - 1)).flatMap { case (w, at) =>
      ends.find(_ >= at).map(_ - w.end)
    }
    tr.add("sources.upsert_rows", rows.size)
    val c0 = System.nanoTime()
    val checks = check(spark, p, gen, seen, n)
    Paced(checks, coldS, lat, windowEmit, lateMax.get, backlogEnd.get, n + 1, wallS,
      (System.nanoTime() - c0) / 1e9, batchMs)
  }

  final case class Drained(checks: Checks.Tally, drainS: Double,
                           batchLatencyMs: Seq[(Double, Int)], events: Int, checkS: Double)

  /** Writes `n` events plus the sentinel as the phase's backlog, files
    * dated in order so they are admitted in order. */
  private def writeBacklog(o: Opts, p: Phase, n: Int): Gen = {
    val gen = new Gen(o.seed, DrainSpacing, 1700000000000L)
    val sentinelTs = gen.dueMs(n) + 86400000L
    val nFiles = (n + DrainFileEvents - 1) / DrainFileEvents
    val mtime0 = System.currentTimeMillis() - (nFiles + 2) * 1000L
    (0 to nFiles).foreach { k =>
      val f = f"f-$k%08d.json"
      if (k < nFiles)
        gen.writeFile(p.stage, p.in, f, k.toLong * DrainFileEvents,
          math.min(n.toLong, (k + 1).toLong * DrainFileEvents), gen.dueMs)
      else gen.writeFile(p.stage, p.in, f, n.toLong, n + 1L, _ => sentinelTs)
      p.in.resolve(f).toFile.setLastModified(mtime0 + k * 1000L)
    }
    gen
  }

  private def drain(o: Opts, tr: Trace, spark: SparkSession, name: String, n: Int,
                    checked: Boolean): Drained = {
    val p = phase(o, spark, name)
    val gen = writeBacklog(o, p, n)
    val seen = new Seen(n + 1)
    val r = start(spark, tr, p, gen, seen, Trigger.AvailableNow(), Some(DrainFilesPerTrigger))
    r.all.foreach(_.awaitTermination())
    val drainS = (nowUs() - r.startUs) / 1e6
    r.all.foreach(_.exception.foreach(e => throw e))
    // each event from its micro-batch's start to its emit
    val starts = r.risk.recentProgress.map(q => q.batchId -> progressMs(q.timestamp)).toMap
    val lat = seen.riskCalls.toSeq.flatMap { case (id, endUs, rows) =>
      starts.get(id).map(s => (endUs / 1000.0 - s, rows))
    }
    if (checked) tr.add("sources.upsert_rows", readWindows(p.jdbc).size)
    val c0 = System.nanoTime()
    val checks = if (checked) check(spark, p, gen, seen, n) else Checks.Tally(0, 0, Nil)
    Drained(checks, drainS, lat, n + 1, (System.nanoTime() - c0) / 1e9)
  }

  private def weightedQuantile(xs: Seq[(Double, Int)], q: Double): Double = {
    val s = xs.sortBy(_._1)
    val target = q * s.map(_._2.toLong).sum
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.map(_._1).getOrElse(Double.NaN)
  }

  def run(o: Opts, tr: Trace): Outcome = {
    // set-up: everything before the paced phase's first timed step
    val spark = setupSession(tr, o.cpus)
    val pacedPhase = phase(o, spark, "paced")
    val setupS = Run.sinceStart(o)
    val pc = paced(o, tr, spark, pacedPhase)
    val dr = drain(o, tr, spark, "drain", DrainPerSecond * o.seconds, checked = true)
    Run.stop(spark)
    tr.settle()
    val (heap, rss) = (Run.heapPeakMb(), Run.rssPeakMb())
    // traced runs only: the same drain, a quarter of the backlog, on one core
    val oneCore = if (!tr.on) Double.NaN else {
      val off = new Trace(false, "1core")
      val s1 = setupSession(off, 1)
      try {
        val d = drain(o, off, s1, "drain1", DrainPerSecond * o.seconds / 4, checked = false)
        d.events / d.drainS
      } finally Run.stop(s1)
    }
    if (pc.lateMaxMs > MaxLateMs)
      throw new InvalidRun(s"generator fell behind its schedule by ${pc.lateMaxMs} ms")

    val eps = dr.events / dr.drainS
    val wallS = pc.wallS + dr.drainS
    Queries.foreach { q =>
      val d = tr.batchDurations(q)
      tr.set(s"streaming.batch_ms_p50.$q", Stats.median(d))
      tr.set(s"streaming.busy_ratio.$q", d.sum / 1000.0 / wallS)
    }
    tr.set("streaming.window_emit_ms_p50", Stats.median(pc.windowEmitMs))
    tr.set("streaming.drain_eps_1core", oneCore)
    tr.set("gen.events", pc.events + dr.events)
    tr.set("gen.late_ms_max", pc.lateMaxMs.toDouble)
    tr.set("gen.backlog_end", pc.backlogEnd.toDouble)
    Outcome(pc.checks + dr.checks,
      Map("setup_s" -> setupS, "heap_peak_mb" -> heap, "cold_s" -> pc.coldS,
        "latency_ms_p50" -> Stats.quantile(pc.latencyMs, 0.5),
        "throughput_per_s" -> eps),
      tr.snapshot,
      Map("key_count" -> Gen.Senders, "rss_peak_mb" -> rss,
        "offered_rate" -> PacedRate, "paced_events" -> pc.events,
        "measured_events" -> pc.latencyMs.size, "paced_s" -> pc.wallS,
        "emit_ms_p50" -> Stats.quantile(pc.latencyMs, 0.5),
        "emit_ms_p90" -> Stats.quantile(pc.latencyMs, 0.9),
        "emit_ms_p95" -> Stats.quantile(pc.latencyMs, 0.95),
        "paced_batch_ms_p50" -> pc.batchMs,
        "emit_ms_p99" -> Stats.quantile(pc.latencyMs, 0.99),
        "window_emit_ms_p50" -> Stats.median(pc.windowEmitMs),
        "windows_emitted" -> pc.windowEmitMs.size,
        "gen_late_ms_max" -> pc.lateMaxMs, "gen_backlog_end" -> pc.backlogEnd,
        "backlog_events" -> dr.events, "drain_s" -> dr.drainS, "drain_eps" -> eps,
        "drain_batch_ms_p50" -> weightedQuantile(dr.batchLatencyMs, 0.5),
        "events_per_trigger" -> DrainFileEvents * DrainFilesPerTrigger,
        "drain_eps_1core" -> oneCore, "check_s" -> (pc.checkS + dr.checkS)))
  }
}

/** A run whose measurement cannot be trusted (not a slow run). */
final class InvalidRun(msg: String) extends RuntimeException(msg)
