package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Topology

/** The shipped near-dup topology (examples/neardup_topology.yaml, only
  * its two paths rewritten) through Topology.parse and runStream, with a
  * parquet file source fed by a generator thread and a parquet sink.
  *
  *  - drain: a backlog of `DrainFilesPerSec` x `--seconds` files lands
  *    during the first trigger; throughput is its docs over the time
  *    from that trigger's commit to the commit of the backlog's last
  *    file.
  *  - paced: `PacedFilesPerSec` files a second land open-loop for
  *    `--seconds` seconds; each file's latency runs from when it was due
  *    to the commit of the micro-batch that read it, read from the
  *    checkpoint's `sources/` and `commits/` logs.
  *
  * A final far-future sentinel file finalizes every window, and the sink
  * must then hold exactly the generator's novel set. */
object StreamNearDup {
  val SetupRounds = 5
  val PrimerDocs = 64
  val DrainFilesPerSec = 8
  val DocsPerDrainFile = 64
  /** Open-loop rate: about half the drained throughput measured on the
    * commit that added the benchmark (perfbench/README.md). */
  val PacedDocsPerSec = 250
  val PacedFilesPerSec = 5
  /** A paced file uncommitted this long after the last one landed is a
    * failure. */
  val GraceMs = 15000L
  val MaxGenLagMs = 1000.0

  final case class Landing(file: String, dueMs: Double, atMs: Double)

  def shippedYaml(ctx: Ctx, in: Path, out: Path): String = {
    val shipped =
      Files.readString(ctx.repo.resolve("examples/neardup_topology.yaml"))
    Seq("path: /data/incoming_docs" -> s"path: $in",
        "path: /data/novel_docs" -> s"path: $out").foldLeft(shipped) {
      case (y, (from, to)) =>
        require(y.split(java.util.regex.Pattern.quote(from), -1).length == 2,
          s"shipped topology no longer has exactly one '$from'")
        y.replace(from, to)
    }
  }

  def run(ctx: Ctx): Unit = {
    val pacedFiles = PacedFilesPerSec * ctx.seconds
    val docsPerPacedFile = PacedDocsPerSec / PacedFilesPerSec
    val drainFiles = DrainFilesPerSec * ctx.seconds
    val drainDocs = drainFiles * DocsPerDrainFile
    val profile = Corpus.profile(ctx.repo.resolve(Corpus.FixtureFile))
    val corpus = Corpus.generate(ctx.seed,
      PrimerDocs + drainDocs + pacedFiles * docsPerPacedFile, profile)
    val sentinel = Corpus.sentinel(corpus, ctx.seed)
    println(s"info corpus ${corpus.describe} sentinel=${sentinel.id}")

    // inputs are written before any timing, then only renamed into place.
    // The file source reads a backlog oldest modification time first, at
    // millisecond resolution; files written within one millisecond could
    // be read out of landing order, and a near copy read before its
    // original is the novel one. So each file gets its own, increasing
    // modification time.
    val staging = ctx.dir("staging")
    val firstStamp = System.currentTimeMillis() - 60000
    val stamp = Iterator.from(0).map(i =>
      java.nio.file.attribute.FileTime.fromMillis(firstStamp + 10L * i))
    def stage(name: String, docs: Seq[Doc]): Path = {
      val p = staging.resolve(name)
      Corpus.writeParquet(p, docs)
      Files.setLastModifiedTime(p, stamp.next())
    }
    val primer = corpus.docs.take(PrimerDocs).toSeq
    val primers = (1 to SetupRounds).map(r => stage(s"primer_$r.parquet", primer))
    val drain = corpus.docs.slice(PrimerDocs, PrimerDocs + drainDocs)
      .grouped(DocsPerDrainFile).zipWithIndex.map { case (d, i) =>
        stage(f"drain_$i%05d.parquet", d.toSeq) }.toVector
    val paced = corpus.docs.drop(PrimerDocs + drainDocs)
      .grouped(docsPerPacedFile).zipWithIndex.map { case (d, i) =>
        stage(f"paced_$i%05d.parquet", d.toSeq) }.toVector
    val sentinelFile = stage("sentinel.parquet", Seq(sentinel))

    var spark: SparkSession = null
    var queries: Seq[StreamingQuery] = Nil
    var in: Path = null
    var out: Path = null
    var ckpt: Path = null
    var yaml: String = null
    val parts = Seq.fill(3)(scala.collection.mutable.ArrayBuffer.empty[Double])
    val rounds = (1 to SetupRounds).map { r =>
      in = ctx.dir(s"in_$r")
      out = ctx.work.resolve(s"out_$r")
      ckpt = ctx.work.resolve(s"ckpt_$r")
      Corpus.land(primers(r - 1), in)
      yaml = shippedYaml(ctx, in, out)
      val (_, ms) = ctx.tracer.timed(s"setup $r", "bench") {
        val (s, sessionMs) = ctx.tracer.timed("GraftSession.getOrCreate",
          "core")(ctx.session())
        spark = s
        ctx.listen(spark)
        val (topo, parseMs) =
          ctx.tracer.timed("Topology.parse", "streaming")(Topology.parse(yaml))
        val (qs, startMs) = ctx.tracer.timed("Topology.runStream",
          "streaming")(topo.runStream(spark, ckpt.toString))
        queries = qs
        Seq(sessionMs, parseMs, startMs).zip(parts).foreach { case (v, b) =>
          b += v }
      }
      if (r < SetupRounds) {
        queries.foreach(_.stop())
        spark.stop()
      }
      ms
    }
    ctx.reportSetup(rounds, parts(0).toSeq, Seq(
      "streaming.parse_ms" -> parts(1).toSeq,
      "streaming.start_ms" -> parts(2).toSeq))
    require(queries.size == 1, s"expected one query, got ${queries.size}")
    val q = queries.head
    val qCkpt = ckpt.resolve("novel_docs")

    // drain: the backlog lands while the primer's (first, cold) trigger
    // runs, after that trigger listed its input, so the next listing
    // sees all of it and the micro-batches are full; the drain runs from
    // the primer's commit to the commit of the last backlog file
    val (drained, _) = ctx.tracer.timed("drain", "bench") {
      val deadline = Clock.nowMs + 60000
      while (q.status.message != "Processing new data") {
        require(q.isActive && Clock.nowMs < deadline,
          "the primer's trigger never started")
        Thread.sleep(2)
      }
      val landed = drain.map { f =>
        val at = Clock.nowMs
        Corpus.land(f, in)
        Landing(f.getFileName.toString, at, at)
      }
      q.processAllAvailable()
      landed
    }
    val drainCommit = batchTimes(qCkpt, "commits")
    val measuredFrom = math.max(drainCommit(primers.last.getFileName.toString),
      drained.last.atMs)
    val drainEnd = drained.map(l => drainCommit(l.file)).max
    val drainMs = drainEnd - measuredFrom
    ctx.e2e("throughput_rows_per_s") = (drainDocs / (drainMs / 1000.0), "1/s")
    ctx.e2e("wall_s") = (drainMs / 1000.0, "s")
    val drainCommits = drained.map(l => drainCommit(l.file)).distinct.sorted
    println(f"info drain docs=$drainDocs files=$drainFiles ms=$drainMs%.1f " +
      "trigger_gaps_ms=" + (measuredFrom +: drainCommits).sliding(2)
        .map(w => f"${w(1) - w(0)}%.0f").mkString(","))

    // paced: one generator thread lands files on a fixed schedule
    val landings = new java.util.concurrent.ConcurrentLinkedQueue[Landing]()
    ctx.tracer.timed("paced", "bench") {
      val t0 = Clock.nowMs + 100.0
      val gen = new Thread(() => paced.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + i * 1000.0 / PacedFilesPerSec
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val at = Clock.nowMs
        Corpus.land(f, in)
        landings.add(Landing(f.getFileName.toString, due, at))
      }, "graftbench-generator")
      gen.start()
      gen.join()
      val deadline = Clock.nowMs + GraceMs
      while (Clock.nowMs < deadline &&
        paced.size > batchTimes(qCkpt, "commits").count(_._1.startsWith("paced_")))
        Thread.sleep(50)
    }
    val measuredTo = Clock.nowMs
    val commits = batchTimes(qCkpt, "commits")
    val landed = landings.asScala.toVector
    ctx.attempted += drainFiles + landed.size + 1
    val uncommitted = landed.count(l => !commits.contains(l.file))
    if (uncommitted > 0)
      ctx.fail(uncommitted, s"$uncommitted paced files not committed " +
        s"${GraceMs}ms after the last landed")
    val lat = landed.flatMap(l => commits.get(l.file).map(_ - l.dueMs))
    if (lat.nonEmpty) ctx.reportLatency("paced files", lat)
    val genLag = landed.map(l => l.atMs - l.dueMs).max
    // at each landing: files landed but not yet committed (the backlog),
    // and those not yet taken by a trigger. Once the untaken files reach
    // the source's per-trigger file cap, the next trigger takes the most
    // files it may and the engine no longer keeps up with the rate: the
    // paced phase is invalid.
    val taken = batchTimes(qCkpt, "offsets")
    def pending(at: Double, by: Map[String, Double]): Int =
      landed.count(o => o.atMs <= at && by.get(o.file).forall(_ > at))
    val backlog = landed.map(l => pending(l.atMs, commits))
    val waiting = landed.map(l => pending(l.atMs, taken))
    val cap = maxPerTrigger(yaml)
    ctx.layer("sources.backlog_files_max") = (backlog.max.toDouble, "count")
    ctx.layer("bench.gen_lag_ms_max") = (genLag, "ms")
    println(f"info paced files=${landed.size} docs_per_s=$PacedDocsPerSec " +
      s"backlog=${backlog.mkString(",")} untaken=${waiting.mkString(",")} " +
      f"cap=$cap gen_lag_ms_max=$genLag%.1f")
    if (waiting.max >= cap)
      ctx.fail(1, s"paced phase invalid: ${waiting.max} landed files " +
        s"waited for a trigger, the per-trigger cap is $cap")
    if (genLag > MaxGenLagMs)
      ctx.fail(1, f"paced phase invalid: generator ran $genLag%.0f ms late")

    // the sentinel finalizes every window; the sink must equal the set
    Corpus.land(sentinelFile, in)
    q.processAllAvailable()
    q.exception.foreach(e => ctx.fail(1, s"stream query failed: $e"))
    if (!q.isActive) ctx.fail(1, "stream query terminated")
    q.stop()
    val got = novelIds(spark, out)
    gate(ctx, "stream_neardup", got, corpus.novel)
    sinkSize(ctx, out)

    if (ctx.trace) {
      streamingLayers(ctx, measuredFrom, measuredTo)
      ctx.layer ++= ctx.exec.execMetrics(measuredFrom, measuredTo, ctx.cores)
        .map { case (n, v, u) => n -> (v, u) }
      val topo = Topology.parse(shippedYaml(ctx, in, out))
      kernelAndConstruct(ctx, spark, in, topo)
      ctx.writeTrace(spark)
    }
  }

  /** The file source's `max_per_trigger` in the topology. */
  def maxPerTrigger(yaml: String): Int = {
    val m = """max_per_trigger:\s*(\d+)""".r.findAllMatchIn(yaml).toSeq
    require(m.size == 1, s"expected one max_per_trigger, found ${m.size}")
    m.head.group(1).toInt
  }

  /** When (epoch ms) the query's batches took or committed each file:
    * with `log` "offsets", when the batch that read the file was planned
    * (`offsets/N` is written right after the listing that starts batch
    * N); with "commits", when it committed (`commits/N`). The file source
    * numbers its own log (`sources/0`, one batch per listing that found
    * files), and query batch N read up to the source batch in its
    * `offsets/N` entry. */
  def batchTimes(ckpt: Path, log: String): Map[String, Double] = {
    def files(d: Path): Seq[Path] =
      if (!Files.isDirectory(d)) Nil
      else Files.list(d).iterator().asScala
        .filterNot(_.getFileName.toString.startsWith(".")).toSeq
    def lines(p: Path): Seq[String] =
      try Files.readAllLines(p).asScala.toSeq
      catch { case _: java.nio.file.NoSuchFileException => Nil }
    def batches(d: String): Seq[(Long, Path)] = files(ckpt.resolve(d))
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong -> p).sortBy(_._1)
    val stamped = batches(log).map { case (n, p) =>
      n -> Files.getLastModifiedTime(p)
        .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0 }.toMap
    val logOffset = """"logOffset":(\d+)""".r.unanchored
    val upTo = batches("offsets").filter(b => stamped.contains(b._1))
      .flatMap { case (n, p) => lines(p).collectFirst {
        case logOffset(k) => (k.toLong, stamped(n)) } }
    val entry = """"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r.unanchored
    files(ckpt.resolve("sources/0")).flatMap(lines).collect {
      case entry(f, k) => (f, k.toLong) }.flatMap { case (f, k) =>
        upTo.find(_._1 >= k).map(f -> _._2) }.toMap
  }

  def novelIds(spark: SparkSession, out: Path): Set[Long] = {
    import spark.implicits._
    spark.read.parquet(out.toString).select($"doc_id".cast("long"))
      .as[Long].collect().toSet
  }

  /** Output gate: the novel set must be non-empty and exactly the
    * generator's. */
  def gate(ctx: Ctx, what: String, got: Set[Long], want: Set[Long]): Unit = {
    val missing = (want -- got).size
    val extra = (got -- want).size
    println(s"info gate $what novel=${got.size} expected=${want.size} " +
      s"missing=$missing extra=$extra")
    if (got.isEmpty || missing + extra > 0)
      ctx.fail(1, s"$what novel set differs from the generator's " +
        s"(got ${got.size}, expected ${want.size}, missing $missing, " +
        s"extra $extra)")
  }

  def sinkSize(ctx: Ctx, out: Path): Unit = {
    val data = Files.walk(out).iterator().asScala.filter { p =>
      Files.isRegularFile(p) && !p.toString.contains("_spark_metadata") &&
        !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_")
    }.toSeq
    ctx.layer("sink.files") = (data.size.toDouble, "count")
    ctx.layer("sink.bytes") = (data.map(Files.size).sum.toDouble, "bytes")
  }

  /** `streaming.*`, `streaming.state.*` and `sources.offset_ms_sum` from
    * the progress of the triggers in the measured window. */
  def streamingLayers(ctx: Ctx, from: Double, to: Double): Unit = {
    ctx.drainEvents(SparkSession.active)
    val ps = ctx.progress.in(from, to)
    def d(k: String): Seq[Double] = ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val trig = d("triggerExecution")
    val ops = ps.flatMap(_.stateOperators.toSeq)
    def sum(xs: Seq[Double]): Double = xs.sum
    val perTrigger = ps.map(_.stateOperators.toSeq)
    Seq(
      ("streaming.triggers", ps.size.toDouble, "count"),
      ("streaming.trigger_ms_p50",
        if (trig.isEmpty) 0.0 else Stats.median(trig), "ms"),
      ("streaming.add_batch_ms_sum", sum(d("addBatch")), "ms"),
      ("streaming.overhead_ms_sum", sum(trig) - sum(d("addBatch")), "ms"),
      ("streaming.query_planning_ms_sum", sum(d("queryPlanning")), "ms"),
      ("streaming.wal_commit_ms_sum", sum(d("walCommit")), "ms"),
      ("streaming.commit_offsets_ms_sum", sum(d("commitOffsets")), "ms"),
      ("streaming.state.commit_ms_sum",
        sum(ops.map(_.commitTimeMs.toDouble)), "ms"),
      ("streaming.state.updates_ms_sum",
        sum(ops.map(_.allUpdatesTimeMs.toDouble)), "ms"),
      ("streaming.state.removals_ms_sum",
        sum(ops.map(_.allRemovalsTimeMs.toDouble)), "ms"),
      ("streaming.state.rows_total", (perTrigger.map(_.map(
        _.numRowsTotal).sum) :+ 0L).max.toDouble, "count"),
      ("streaming.state.memory_bytes_max", (perTrigger.map(_.map(
        _.memoryUsedBytes).sum) :+ 0L).max.toDouble, "bytes"),
      ("streaming.state.rows_dropped_late",
        sum(ops.map(_.numRowsDroppedByWatermark.toDouble)), "count"),
      ("sources.offset_ms_sum", sum(d("latestOffset")) + sum(d("getBatch")),
        "ms")
    ).foreach { case (n, v, u) => ctx.layer(n) = (v, u) }
  }

  /** Traced-run extras over the run's own corpus: the kernel-only pass
    * (shingle hashes -> MinHash -> band keys into a noop sink) and the
    * NearDupOp factory call, with the jobs it runs before any action. */
  def kernelAndConstruct(ctx: Ctx, spark: SparkSession, corpusDir: Path,
                         topo: Topology): Unit = {
    import org.apache.spark.sql.functions._
    import graft.llm.Dedup
    val docs = spark.read.parquet(corpusDir.toString)
    val n = docs.count()
    val (_, kernelMs) = ctx.tracer.timed("kernel pass", "functions") {
      docs.select(col("doc_id"), Dedup.bandKeysFromSig(
          Dedup.minhashSigFromHashes(Dedup.textShingleHashes(col("text"), 3),
            128), 128, 32).as("bkeys"))
        .write.format("noop").mode("overwrite").save()
    }
    ctx.layer("functions.kernel_ms") = (kernelMs, "ms")
    ctx.layer("functions.kernel_docs_per_s") = (n / (kernelMs / 1000.0), "1/s")
    val op = topo.operators.head
    val from = Clock.nowMs
    val (_, constructMs) = ctx.tracer.timed("NearDupOp factory", "llm") {
      Topology.loadFactory(op.factory)(topo.config ++ op.config, Seq(docs))
    }
    ctx.drainEvents(spark)
    ctx.layer("llm.construct_ms") = (constructMs, "ms")
    ctx.layer("llm.construct_jobs") =
      (ctx.exec.jobsIn(from, from + constructMs).size.toDouble, "count")
  }
}
