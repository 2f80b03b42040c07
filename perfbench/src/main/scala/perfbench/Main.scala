package perfbench

/** Runs one workload and prints its record on stdout, as one JSON line
  * prefixed `record `; run.py builds the result line from it.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *                  --run-dir D --out-dir O --bench-dir B --start-ns T
  *   perfbench.Main --record-board --cpus C --run-dir D --out-dir O --bench-dir B
  *                  --start-ns T
  */
object Main {
  def main(args: Array[String]): Unit = {
    Run.trackHeap()
    if (args.headOption.contains("--record-board")) {
      Board.record(Opts.parse(args.drop(1) ++ Array("--workload", "board_slice",
        "--seed", "0", "--seconds", "0", "--trace", "0")))
      sys.exit(0)
    }
    val o = Opts.parse(args)
    val runId = f"${o.workload}-${o.seed}-${System.currentTimeMillis()}%x"
    val tr = new Trace(o.trace, runId)
    val out = try o.workload match {
      case "remit_stream" => Streams.run(o, tr)
      case "board_slice" => Board.run(o, tr)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: InvalidRun =>
        System.err.println(s"[perfbench] invalid run: ${e.getMessage}")
        sys.exit(3)
    }
    out.checks.notes.foreach(n => System.err.println(s"[perfbench] check: $n"))
    // the first set-up's spans: a traced board run sets up again to prewarm
    def firstS(span: String) = tr.spanSeconds(span).headOption.getOrElse(0.0)
    val upserts = tr.spanSeconds("sources.upsert")
    val fromSpans = Map(
      "core.session_s" -> firstS("core.session"),
      "core.fixture_load_s" -> firstS("core.fixture_load"),
      "core.prewarm_jobs" -> out.layer.getOrElse("core.jobs.prewarm", 0.0),
      "sources.upsert_ms" -> upserts.sum * 1000,
      "sources.upsert_calls" -> upserts.size.toDouble)
    val layers = Layers.names.map(n =>
      n -> fromSpans.getOrElse(n, out.layer.getOrElse(n, 0.0))).toMap
    if (tr.on) tr.write(o.outDir.resolve("traces"), runId, Trace.originNs, Trace.originEpochMs)
    println("record " + Run.json(Map(
      "run" -> runId, "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cpus" -> o.cpus,
      "attempted" -> out.checks.attempted, "failed" -> out.checks.failed,
      "end_to_end" -> out.e2e, "per_layer" -> (if (tr.on) layers else Map.empty),
      "self_s" -> (if (tr.on) tr.selfTimeByLayer else Map.empty),
      "moves" -> (if (tr.on) Layers.names.map(n => n -> Layers.moves(n)).toMap else Map.empty),
      "info" -> out.info)))
    System.out.flush()
    // the JVM's own non-daemon threads (Derby, RocksDB) must not hold it open
    sys.exit(0)
  }
}
