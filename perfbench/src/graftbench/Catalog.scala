package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.core.Tables

/** The SparkEntry.queries catalog over the sf0.01 test tables
  * (perfbench/data/sf0.01, a copy of those TESTDATA.md describes): one
  * client, closed loop. An untimed pass runs the fixed query set in name
  * order; then timed passes, each in an order drawn from `--seed`, run
  * until `--seconds` have passed (at least `MinTimedPasses`). A query's
  * latency runs from the construction call to the collected result; its
  * row count and order-insensitive digest must equal the recorded,
  * DuckDB-checked values in perfbench/catalog/expected.json. */
object Catalog {
  val SetupRounds = 5
  val MinTimedPasses = 3
  val DataDir = "perfbench/data/sf0.01"
  val ExpectedFile = "perfbench/catalog/expected.json"

  final case class Expected(rows: Long, digest: String)
  final case class Timing(construct: Double, plan: Double, execute: Double,
                          phases: Map[String, Double]) {
    def total: Double = construct + plan + execute
  }

  def run(ctx: Ctx): Unit = {
    val data = ctx.repo.resolve(DataDir).toString
    val expected = loadExpected(ctx.repo.resolve(ExpectedFile))
    var spark: SparkSession = null
    val sessionMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tablesMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rounds = (1 to SetupRounds).map { r =>
      if (spark != null) spark.stop()
      ctx.tracer.timed(s"setup $r", "bench") {
        val (s, ms) = ctx.tracer.timed("GraftSession.getOrCreate", "core")(
          ctx.session())
        spark = s
        sessionMs += ms
        ctx.listen(spark)
        tablesMs += ctx.tracer.timed("Tables.table", "core")(
          Tables.names.foreach(n => Tables.table(spark, data, n)))._2
      }._2
    }
    ctx.reportSetup(rounds, sessionMs.toSeq,
      Seq("core.tables_ms" -> tablesMs.toSeq))

    // untimed pass: in a fresh JVM the first queries also pay the JIT's
    // first compilations (1-2 s each on 4 cores), so without it the
    // seeded order alone would move the median and the sum
    val names = expected.keys.toVector.sorted
    ctx.tracer.timed("untimed pass", "bench")(names
      .foreach(n => SparkEntry.queries(n)(spark, data).collect()))
    val rnd = new scala.util.Random(ctx.seed)
    val measuredFrom = Clock.nowMs
    val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Timing)]
    var passes = 0
    while (passes < MinTimedPasses ||
      Clock.nowMs - measuredFrom < ctx.seconds * 1000.0) {
      passes += 1
      rnd.shuffle(names).foreach { name =>
        ctx.attempted += 1
        try {
          val (rows, t) = runOne(ctx, spark, name, data)
          val got = digest(rows)
          if (got != expected(name)) ctx.fail(1, s"$name: got $got, " +
            s"expected ${expected(name)}")
          timings += name -> t
        } catch { case e: Throwable =>
          ctx.fail(1, s"$name threw: $e")
        }
      }
    }
    val measuredTo = Clock.nowMs
    println(s"info catalog queries=${names.size} timed_passes=$passes " +
      s"order_seed=${ctx.seed}")
    // each query's median over the passes; wall_s is one pass at those
    val perQuery = timings.groupMap(_._1)(_._2.total).view
      .mapValues(xs => Stats.median(xs.toSeq)).toMap
    val wall = perQuery.values.sum
    ctx.reportLatency("catalog queries", timings.map(_._2.total).toSeq)
    ctx.e2e("wall_s") = (wall / 1000.0, "s")
    ctx.e2e("throughput_rows_per_s") = (perQuery.size / (wall / 1000.0), "1/s")
    val slowest = perQuery.toSeq.sortBy(-_._2).take(5)
      .map { case (n, t) => f"$n=$t%.0f" }.mkString(",")
    println(s"info catalog slowest_median_ms $slowest")

    if (ctx.trace) {
      ctx.drainEvents(spark)
      val ts = timings.map(_._2).toSeq
      def phase(p: String): Double = ts.map(_.phases.getOrElse(p, 0.0)).sum
      val constructJobs = ctx.tracer.spans.filter(_.name == "catalog.construct")
        .map(s => ctx.exec.jobsIn(s.start, s.end).size).sum
      Seq(
        ("catalog.construct_ms_sum", ts.map(_.construct).sum, "ms"),
        ("catalog.construct_jobs", constructJobs.toDouble, "count"),
        ("plans.analysis_ms_sum", phase("analysis"), "ms"),
        ("plans.optimization_ms_sum", phase("optimization"), "ms"),
        ("plans.planning_ms_sum", phase("planning"), "ms"),
        ("catalog.execute_ms_sum", ts.map(_.execute).sum, "ms")
      ).foreach { case (n, v, u) => ctx.layer(n) = (v, u) }
      ctx.layer ++= ctx.exec.execMetrics(measuredFrom, measuredTo, ctx.cores)
        .map { case (n, v, u) => n -> (v, u) }
      ctx.writeTrace(spark)
    }
  }

  /** Construct, plan and run one query; its rows and timing. */
  def runOne(ctx: Ctx, spark: SparkSession, name: String, data: String)
      : (Array[Row], Timing) = {
    val (df, c) = ctx.tracer.timed("catalog.construct", "catalog")(
      SparkEntry.queries(name)(spark, data))
    val (_, p) = ctx.tracer.timed("plans.executedPlan", "plans")(
      df.queryExecution.executedPlan)
    val (rows, x) = ctx.tracer.timed("catalog.execute", "catalog")(
      df.collect())
    val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
      k -> v.durationMs.toDouble }
    (rows, Timing(c, p, x, phases))
  }

  /** Row count and an order-insensitive digest: the wrapping sum of a
    * 64-bit hash of each row's canonical text. */
  def digest(rows: Array[Row]): Expected = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sum = rows.iterator.map { r =>
      val h = md.digest(canon(r).getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(h).getLong
    }.foldLeft(0L)(_ + _)
    Expected(rows.length, f"$sum%016x")
  }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case o => o.toString
  }

  def loadExpected(p: Path): Map[String, Expected] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(p.toFile)
    root.get("queries").properties().asScala.map { e =>
      e.getKey -> Expected(e.getValue.get("rows").asLong,
        e.getValue.get("digest").asText)
    }.toMap
  }
}

/** Records perfbench/catalog/expected.json. A timing pass runs every
  * oracled query (SparkEntry.queries with an oracleSql twin) once; the
  * pool is those that took at most `PoolMaxMs` (the overhead-bound
  * rows); the query set is the first `Count` of a shuffle of the pool
  * drawn with `SampleSeed`, each run again and kept only if both runs
  * give the same digest.
  * {{{
  *   graftbench.RecordCatalog --repo DIR --out FILE
  * }}}
  * The recorded values are trusted only after the same queries pass
  * tools/check_oracle.py at the same scale (perfbench/README.md). */
object RecordCatalog {
  val SampleSeed = 1L
  val Count = 16
  val PoolMaxMs = 500.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val repo = Paths.get(a("repo"))
    val data = repo.resolve(Catalog.DataDir).toString
    val oracled = (SparkEntry.queries.keySet intersect
      SparkEntry.oracleSql.keySet).toVector.sorted
    val ctx = new Ctx("record", SampleSeed, 0, trace = false, repo,
      repo.resolve(".bench_build/record"), repo.resolve(".bench_build/x"))
    val spark = ctx.session()
    val first = new scala.util.Random(SampleSeed).shuffle(oracled).map { n =>
      val (rows, t) = Catalog.runOne(ctx, spark, n, data)
      println(f"timing $n ms=${t.total}%.0f rows=${rows.length}")
      n -> (t.total, Catalog.digest(rows))
    }.toMap
    val pool = oracled.filter(first(_)._1 <= PoolMaxMs)
    val sample = new scala.util.Random(SampleSeed).shuffle(pool).take(Count)
    val stable = sample.map { n =>
      val (rows, _) = Catalog.runOne(ctx, spark, n, data)
      n -> (Catalog.digest(rows) == first(n)._2)
    }.toMap
    val body = sample.filter(stable).sorted.map { n =>
      val d = first(n)._2
      s"""    ${Json.str(n)}: {"rows": ${d.rows}, "digest": "${d.digest}"}"""
    }.mkString(",\n")
    Files.writeString(Paths.get(a("out")),
      s"""{
         |  "scale": "sf0.01",
         |  "sample_seed": $SampleSeed,
         |  "oracled": ${oracled.size},
         |  "pool_max_ms": $PoolMaxMs,
         |  "pool": ${pool.size},
         |  "sampled": ${sample.size},
         |  "unstable": ${sample.filterNot(stable).map(Json.str)
        .mkString("[", ", ", "]")},
         |  "queries": {
         |$body
         |  }
         |}
         |""".stripMargin)
    spark.stop()
  }
}
