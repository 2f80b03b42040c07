package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counts for a traced run.
  *
  * A span is (name, start, end, parent, run id); its layer is the part of
  * its name before the first dot. Spans and counts stay in memory and are
  * written once, by [[write]], at the end of the run. With tracing off
  * every method only runs its body: the end-to-end runs pay nothing.
  */
final class Trace(val on: Boolean, val runId: String) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.Map.empty[String, Double]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 1

  private def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  private def record(s: Span): Unit = synchronized { spans += s }

  /** Times `f` as a span nested under the calling thread's open span. */
  def span[T](name: String, parentKey: String = null)(f: => T): T =
    if (!on) f
    else {
      val id = newId()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        record(Span(id, name, t0, System.nanoTime(), parents.headOption.getOrElse(0),
          parentKey, null))
        stack.set(parents)
      }
    }

  /** A span measured elsewhere (a micro-batch from its progress event);
    * `key` lets spans from other threads name it as their parent. Returns
    * the span id, for children. */
  def addSpan(name: String, startNs: Long, endNs: Long, parent: Int = 0,
              key: String = null): Int =
    if (!on) 0
    else { val id = newId(); record(Span(id, name, startNs, endNs, parent, null, key)); id }

  def add(name: String, v: Double): Unit =
    if (on) synchronized { counts(name) = counts.getOrElse(name, 0.0) + v }

  def set(name: String, v: Double): Unit = if (on) synchronized { counts(name) = v }

  def get(name: String): Double = synchronized { counts.getOrElse(name, 0.0) }

  def snapshot: Map[String, Double] = synchronized { counts.toMap }

  /** Seconds of each span called `name`. */
  def spanSeconds(name: String): Seq[Double] = synchronized {
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq
  }

  /** Self seconds per layer: each span's duration less its children's. */
  def selfTimeByLayer: Map[String, Double] = synchronized {
    val resolved = resolvedSpans
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    resolved.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    resolved.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0L, s.endNs - s.startNs - childNs(s.id))).sum / 1e9
    }
  }

  /** Gives each span that names a parent key the keyed span that contains
    * it: both phases of a stream run reuse query names and batch ids. */
  private def resolvedSpans: Seq[Span] = {
    val byKey = spans.filter(_.key != null).groupBy(_.key)
    spans.toSeq.map { s =>
      if (s.parent != 0 || s.parentKey == null) s
      else s.copy(parent = byKey.getOrElse(s.parentKey, Nil)
        .find(b => b.startNs <= s.startNs && s.startNs <= b.endNs).map(_.id).getOrElse(0))
    }
  }

  /** Writes the spans (one JSON object a line) and the counts. Times are
    * epoch-relative microseconds for spans, so traces of one run line up. */
  def write(dir: Path, stem: String, originNs: Long, originEpochMs: Long): Unit =
    if (on) synchronized {
      Files.createDirectories(dir)
      val lines = resolvedSpans.sortBy(_.startNs).map { s =>
        def us(ns: Long) = originEpochMs * 1000L + (ns - originNs) / 1000L
        Run.json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_us" -> us(s.startNs), "end_us" -> us(s.endNs)))
      }
      Files.write(dir.resolve(s"$stem.spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.write(dir.resolve(s"$stem.counts.json"), Run.json(Map(
        "run" -> runId, "counts" -> counts.toMap,
        "self_s" -> selfTimeByLayer)).getBytes(StandardCharsets.UTF_8))
    }

  // ---- listeners -------------------------------------------------------

  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  /** Scope of a job: the bench's own `perfbench.scope` local property, or
    * "streaming.<query name>" for a micro-batch job, whose description
    * starts with the query's name. */
  private def scopeOf(props: java.util.Properties): String = {
    if (props == null) return null
    val own = props.getProperty(Trace.ScopeProp)
    if (own != null) own
    else if (props.getProperty("sql.streaming.queryId") == null) null
    else Option(props.getProperty("spark.job.description"))
      .map(_.takeWhile(_ != '\n')).filter(Streams.Queries.contains)
      .map("streaming." + _).orNull
  }

  /** Job, stage and task counts per scope, from Spark's listener bus. A
    * job counts at its start, as its end event carries no properties. */
  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val scope = scopeOf(e.properties)
      if (scope != null) {
        e.stageIds.foreach(stageScope.put(_, scope))
        val (layer, tag) = Trace.split(scope)
        add(s"$layer.jobs$tag", 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val scope = stageScope.remove(si.stageId)
      if (scope == null) return
      val (layer, tag) = Trace.split(scope)
      def put(m: String, v: Double): Unit = add(s"$layer.$m$tag", v)
      put("stages", 1)
      put("tasks", si.numTasks)
      val tm = si.taskMetrics
      if (tm != null) {
        put("task_s", tm.executorRunTime / 1e3)
        put("gc_s", tm.jvmGCTime / 1e3)
        put("scan_bytes", tm.inputMetrics.bytesRead.toDouble)
        put("shuffle_bytes", tm.shuffleWriteMetrics.bytesWritten.toDouble)
        put("spill_bytes", tm.diskBytesSpilled.toDouble)
      }
    }
  }

  /** Planning time and plan shape of each executed query, attributed by
    * QueryExecution id to the scope that was open when it ran. Listener
    * events arrive late, so they are held and attributed by [[settle]]. */
  private val qeScopes = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val qeSeen = mutable.ArrayBuffer.empty[(Long, Double, Int, Int)]

  def scopeQueries(lo: Long, hi: Long, scope: String): Unit =
    if (on) synchronized { qeScopes += ((lo, hi, scope)) }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val plans = Trace.flatten(qe.executedPlan)
      val row = (qe.id, planMs, plans.count(_.isInstanceOf[BroadcastExchangeExec]),
        plans.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
      Trace.this.synchronized { qeSeen += row }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Attributes the held query events; call once the listener bus has
    * drained (after the session stops). */
  def settle(): Unit = if (on) {
    val rows = synchronized { val r = qeSeen.toList; qeSeen.clear(); r }
    rows.foreach { case (id, planMs, bc, bnlj) =>
      synchronized(qeScopes.find { case (lo, hi, _) => id > lo && id < hi }).foreach {
        case (_, _, scope) =>
          val (layer, tag) = Trace.split(scope)
          add(s"$layer.plan_ms$tag", planMs)
          add(s"$layer.broadcasts$tag", bc)
          add(s"$layer.bnlj$tag", bnlj)
      }
    }
  }

  /** One span per micro-batch with its phases as children, plus the
    * streaming and source counts its progress carries. */
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val q = p.name
      if (!Streams.Queries.contains(q)) return
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val total = d.getOrElse("triggerExecution", 0L)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val startNs = Trace.epochMsToNs(startMs)
      val batch = addSpan(s"streaming.batch", startNs, startNs + total * 1000000L,
        key = s"$q:${p.batchId}")
      var at = startNs
      Trace.Phases.foreach { case (phase, layer) =>
        d.get(phase).foreach { ms =>
          addSpan(s"$layer.$phase", at, at + ms * 1000000L, parent = batch)
          at += ms * 1000000L
        }
      }
      def put(m: String, v: Double): Unit = add(s"streaming.$m.$q", v)
      put("batches", 1)
      put("plan_ms", d.getOrElse("queryPlanning", 0L).toDouble)
      put("wal_ms", d.getOrElse("walCommit", 0L).toDouble)
      put("commit_ms", d.getOrElse("commitOffsets", 0L).toDouble)
      put("exec_ms", d.getOrElse("addBatch", 0L).toDouble)
      add("sources.list_ms", d.getOrElse("latestOffset", 0L).toDouble)
      add("sources.get_batch_ms", d.getOrElse("getBatch", 0L).toDouble)
      synchronized { batchMs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += total.toDouble }
      p.stateOperators.foreach { s =>
        put("state_commit_ms", s.commitTimeMs.toDouble)
        put("late_dropped", s.numRowsDroppedByWatermark.toDouble)
        set(s"streaming.state_rows.$q", s.numRowsTotal.toDouble)
        val sst = Option(s.customMetrics.get("rocksdbSstFileSize")).map(_.doubleValue)
        set(s"streaming.state_bytes.$q", sst.getOrElse(s.memoryUsedBytes.toDouble))
      }
    }
  }

  private val batchMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def batchDurations(q: String): Seq[Double] =
    synchronized { batchMs.get(q).map(_.toSeq).getOrElse(Nil) }

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(progressListener)
  }
}

object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, parentKey: String, key: String)

  val ScopeProp = "perfbench.scope"

  /** Micro-batch phases in the order a micro-batch runs them, with the
    * layer each belongs to. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "sources", "walCommit" -> "streaming",
    "getBatch" -> "sources", "queryPlanning" -> "streaming",
    "addBatch" -> "streaming", "commitOffsets" -> "streaming")

  /** "queries.cold" -> ("queries", ".cold"). */
  def split(scope: String): (String, String) = {
    val i = scope.indexOf('.')
    if (i < 0) (scope, "") else (scope.substring(0, i), scope.substring(i))
  }

  private val nsOrigin = System.nanoTime()
  private val msOrigin = System.currentTimeMillis()
  def epochMsToNs(ms: Long): Long = nsOrigin + (ms - msOrigin) * 1000000L
  def originNs: Long = nsOrigin
  def originEpochMs: Long = msOrigin

  /** Every physical operator, looking through adaptive execution and its
    * query stages. */
  def flatten(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}
