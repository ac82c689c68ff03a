package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run shares: its arguments, clock, metrics,
  * failure count and (in a traced run) the listeners. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
                val trace: Boolean, val repo: Path, val work: Path,
                val traceOut: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(trace)
  val exec = new ExecListener
  val progress = new ProgressListener
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def fail(n: Long, why: String): Unit = {
    failed += n
    System.err.println(s"graftbench: FAILED $why")
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** The session graft.Main ships: GraftSession on local[<nproc>]. */
  def session(): SparkSession =
    graft.core.GraftSession.builder(master = s"local[$cores]").getOrCreate()

  /** Register the traced run's listeners on a freshly built session. */
  def listen(spark: SparkSession): Unit = if (trace) {
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(progress)
  }

  def drainEvents(spark: SparkSession): Unit =
    if (trace) org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** `setup_s` is the median of the set-up rounds: the first round in
    * the JVM is cold (class loading, the first session), the later ones
    * rebuild the session after `stop()` in a warm JVM. The cold round,
    * what a one-shot `graft.Main` run pays, is reported per layer:
    * `bench.setup_cold_ms` whole and `core.session_cold_ms` for its
    * session build. `parts` are per-layer medians over the rounds. */
  def reportSetup(rounds: Seq[Double], sessionMs: Seq[Double],
                  parts: Seq[(String, Seq[Double])]): Unit = {
    e2e("setup_s") = (Stats.median(rounds) / 1000.0, "s")
    println(f"info setup rounds_ms=${rounds.map(r => f"$r%.0f").mkString(",")}" +
      " (the first cold)")
    layer("bench.setup_cold_ms") = (rounds.head, "ms")
    layer("core.session_cold_ms") = (sessionMs.head, "ms")
    (("core.session_ms" -> sessionMs) +: parts).foreach { case (n, xs) =>
      layer(n) = (Stats.median(xs), "ms") }
  }

  /** Median and tail of a latency sample, announced with its size. */
  def reportLatency(what: String, ms: Seq[Double]): Unit = {
    val (tail, pct, beyond) = Stats.tail(ms)
    e2e("latency_p50_ms") = (Stats.median(ms), "ms")
    e2e("latency_tail_ms") = (tail, "ms")
    println(f"info latency $what n=${ms.size} tail=p$pct%.1f " +
      s"beyond=$beyond")
  }

  /** Close the run's span tree, add each layer's self time, and write
    * the spans as one JSON file. */
  def writeTrace(spark: SparkSession): Unit = if (trace) {
    drainEvents(spark)
    val root = tracer.root.copy(end = Clock.nowMs)
    val spans = SelfTime.tree(tracer.spans, root,
      progress.synchronized(progress.progress.toSeq), exec)
    val self = SelfTime.byLayer(spans)
    Main.Layers.foreach(l =>
      layer(s"self.${l}_ms") = (self.getOrElse(l, 0.0), "ms"))
    def figures(m: collection.Map[String, (Double, String)]): String =
      m.map { case (n, (v, u)) => s"${Json.str(n)}:[${Json.num(v)},${
        Json.str(u)}]" }.mkString("{", ",", "}")
    val spanJson = spans.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":"${s.layer}","start_ms":${Json.num(s.start)},""" +
        s""""end_ms":${Json.num(s.end)}}""").mkString("[\n", ",\n", "]")
    Files.createDirectories(traceOut.getParent)
    Files.writeString(traceOut,
      s"""{"run_id":${Json.str(s"$workload-$seed-${root.start.toLong}")},""" +
        s""""workload":"$workload","seed":$seed,"cores":$cores,""" +
        s""""e2e":${figures(e2e)},"layer":${figures(layer)},""" +
        s""""spans":$spanJson}""" + "\n")
    println(s"info trace ${spans.size} spans -> $traceOut")
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Benchmark entry point:
  * {{{
  *   graftbench.Main --workload stream_neardup|batch_catalog
  *     --seed N --seconds S --trace 0|1 --repo DIR --work DIR
  *     --trace-out FILE
  * }}}
  * Prints `metric <name> <value> <unit>` lines, then one
  * `RESULT {json}` line in the benchmark's result format. */
object Main {
  /** Layers whose self time a traced run reports. */
  val Layers: Seq[String] = Seq("bench", "core", "streaming", "llm",
    "functions", "catalog", "plans", "exec")

  /** Every per-layer metric, printed by every traced run: 0 where the
    * layer is not on the workload's path. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "bench.setup_cold_ms" -> "ms", "core.session_cold_ms" -> "ms",
    "core.session_ms" -> "ms", "core.tables_ms" -> "ms",
    "streaming.parse_ms" -> "ms", "streaming.start_ms" -> "ms",
    "streaming.triggers" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_sum" -> "ms",
    "streaming.overhead_ms_sum" -> "ms",
    "streaming.query_planning_ms_sum" -> "ms",
    "streaming.wal_commit_ms_sum" -> "ms",
    "streaming.commit_offsets_ms_sum" -> "ms",
    "streaming.state.commit_ms_sum" -> "ms",
    "streaming.state.updates_ms_sum" -> "ms",
    "streaming.state.removals_ms_sum" -> "ms",
    "streaming.state.rows_total" -> "count",
    "streaming.state.memory_bytes_max" -> "bytes",
    "streaming.state.rows_dropped_late" -> "count",
    "sources.offset_ms_sum" -> "ms", "sources.backlog_files_max" -> "count",
    "functions.kernel_ms" -> "ms", "functions.kernel_docs_per_s" -> "1/s",
    "llm.construct_ms" -> "ms", "llm.construct_jobs" -> "count",
    "catalog.construct_ms_sum" -> "ms", "catalog.construct_jobs" -> "count",
    "plans.analysis_ms_sum" -> "ms", "plans.optimization_ms_sum" -> "ms",
    "plans.planning_ms_sum" -> "ms", "catalog.execute_ms_sum" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_ms_sum" -> "ms",
    "exec.gc_ms_sum" -> "ms", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.driver_gap_ms" -> "ms", "exec.busy_ratio" -> "ratio",
    "exec.tasks_failed" -> "count", "sink.files" -> "count",
    "sink.bytes" -> "bytes", "bench.gen_lag_ms_max" -> "ms") ++
    Layers.map(l => s"self.${l}_ms" -> "ms")

  val Workloads: Map[String, Ctx => Unit] = Map(
    "stream_neardup" -> StreamNearDup.run,
    "batch_catalog" -> Catalog.run)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload, sys.error(
      s"unknown workload '$workload' (${Workloads.keys.mkString(", ")})"))
    val ctx = new Ctx(workload, a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Paths.get(a("repo")), Paths.get(a("work")),
      Paths.get(a("trace-out")))
    try run(ctx)
    catch { case t: Throwable =>
      t.printStackTrace()
      ctx.fail(1, s"$workload aborted: $t")
    }
    ctx.e2e("peak_rss_mb") = (ctx.peakRssMb(), "MB")
    val layers = LayerMetrics.map { case (n, u) =>
      n -> ctx.layer.getOrElse(n, (0.0, u)) }
    // a traced run prints its own end-to-end figures too: set against an
    // untraced run of the same seed they give the tracing overhead
    val printed = ctx.e2e.toSeq ++ (if (ctx.trace) layers else Nil)
    printed.foreach { case (n, (v, u)) => println(s"metric $n $v $u") }
    val shown = if (ctx.trace) layers else ctx.e2e.toSeq
    println(f"info failed_ratio ${ctx.failed.toDouble /
      math.max(ctx.attempted, 1L)}%.4f (${ctx.failed}/${ctx.attempted})")
    val metrics = shown.map { case (n, (v, u)) =>
      s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    val correct = ctx.failed == 0
    println(s"""RESULT {"correct":$correct,"attempted":${
      math.max(ctx.attempted, 1L)},"failed":${ctx.failed},""" +
      s""""metrics":{$metrics}}""")
    System.out.flush()
    // Spark's non-daemon threads must not outlive the measurement
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(if (correct) 0 else 1)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
