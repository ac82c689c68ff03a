package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.streaming.Topology

/** Executable front door — the counterpart of the reference's
  * `makinage --config app.yaml` console script
  * (makinage/makinage.py:138-155; argv parse makinage/config.py:26-35).
  *
  * {{{
  *   graft.Main --config app.yaml [--mode stream|batch]
  *              [--output DIR] [--checkpoint DIR] [--master URL]
  * }}}
  *
  * Batch mode writes every sink topic under `--output`; stream mode starts
  * one streaming query per sink and blocks until the first one ends,
  * then stops the others and exits nonzero if any failed. Flags
  * default from the YAML `config:` section (`mode`, `output`,
  * `checkpoint`), so a fully self-describing app file needs only
  * `--config`.
  */
object Main {

  case class Args(config: String = "", overrides: Map[String, String] =
    Map.empty)

  /** argv → Args (parse_arguments analogue). Fails fast with usage on
    * unknown flags or a missing --config. */
  def parseArgs(argv: Array[String]): Args = {
    val flags = Set("--config", "--mode", "--output", "--checkpoint",
      "--master")
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case flag :: value :: tail if flags(flag) =>
        val a = if (flag == "--config") acc.copy(config = value)
        else acc.copy(overrides =
          acc.overrides + (flag.stripPrefix("--") -> value))
        loop(tail, a)
      case bad =>
        throw new IllegalArgumentException(
          s"usage: graft.Main --config app.yaml [--mode stream|batch] " +
            s"[--output DIR] [--checkpoint DIR] [--master URL] " +
            s"(at: ${bad.head})")
    }
    val parsed = loop(argv.toList, Args())
    require(parsed.config.nonEmpty, "--config is required")
    parsed
  }

  /** Run a parsed topology; returns started queries (stream mode) or Nil
    * (batch mode, which completes before returning). Factored out of
    * [[main]] so embedders/tests own the query lifecycle. */
  def run(spark: SparkSession, topo: Topology,
          overrides: Map[String, String]): Seq[StreamingQuery] = {
    def setting(key: String, default: => String): String =
      overrides.getOrElse(key,
        topo.config.get(key).map(_.toString).getOrElse(default))
    setting("mode", "stream") match {
      case "batch" =>
        val written = topo.runBatch(spark, setting("output",
          sys.error("batch mode needs --output (or config: output)")))
        // kind:memory sinks are ephemeral temp views that die with this
        // JVM — a CLI batch run whose sinks are ALL memory would compute
        // nothing, write nothing and still exit 0 (pre-r15 such sinks
        // were accidentally written as parquet, so this is also the
        // loud face of that semantics change)
        require(written.nonEmpty,
          "batch run wrote no durable sink: every sink topic is " +
            "kind:memory (ephemeral temp views that vanish when this " +
            "JVM exits) — point at least one sink at parquet/json")
        Nil
      case "stream" =>
        topo.runStream(spark, setting("checkpoint",
          sys.error("stream mode needs --checkpoint (or config: checkpoint)")))
      case other =>
        throw new IllegalArgumentException(s"unknown mode: $other")
    }
  }

  /** Reference `identity_or_redirect` (makinage/config.py:67-84,
    * config.sample.redirect.yaml): a config whose top level is only a
    * `redirect:` block resolves the REAL config from elsewhere. The
    * zero-egress connector is `file` (path re-read at every start — the
    * restart-granularity analogue of the Consul watch; live
    * per-micro-batch reconfig is the `config_topic` contract). A
    * `consul` connector names the reference behavior but needs a KV
    * client + egress, so it refuses loudly instead of pretending. */
  def resolveConfigText(text: String): String = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](text)
    val redirect = if (root == null) null else root.get("redirect")
    redirect match {
      case null => text
      case m: java.util.Map[_, _] =>
        // the reference contract (config.sample.redirect.yaml): a
        // redirecting config's top level is ONLY the redirect block —
        // real topics/operators beside it would be silently discarded
        // (a half-migrated config masquerading as valid)
        require(root.size() == 1,
          "a redirect config must have no other top-level keys; found: " +
            root.keySet().toArray.mkString(", "))
        val r = m.asInstanceOf[java.util.Map[String, Object]]
        r.get("connector") match {
          case "file" =>
            val resolved =
              Files.readString(Paths.get(String.valueOf(r.get("path"))))
            // one level only: a redirect target that itself redirects
            // would otherwise reach Topology.parse as a config with no
            // topics and fail with an unrelated message
            val resolvedRoot = new org.yaml.snakeyaml.Yaml()
              .load[java.util.Map[String, Object]](resolved)
            require(resolvedRoot == null ||
              resolvedRoot.get("redirect") == null,
              s"nested redirect: ${r.get("path")} itself redirects — " +
                "one level of indirection is supported")
            resolved
          case "consul" => throw new IllegalArgumentException(
            "redirect.connector 'consul' needs a Consul client and " +
              "network egress (reference makinage/config.py:57-84); " +
              "use connector: file, or a config_topic for live reconfig")
          case other => throw new IllegalArgumentException(
            s"unknown redirect.connector: $other (supported: file)")
        }
      case other => throw new IllegalArgumentException(
        s"redirect must be a map, got: $other")
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val topo = Topology.parse(resolveConfigText(
      Files.readString(Paths.get(args.config))))
    val spark = graft.core.GraftSession.builder(
        master = args.overrides.getOrElse("master",
          sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .getOrCreate()
    val code = awaitTopology(spark, run(spark, topo, args.overrides))
    if (code != 0) sys.exit(code)
  }

  /** Block until the first of `queries` terminates, then stop the rest:
    * a topology never keeps running with one query dead. Returns the
    * process exit code, 1 when any query failed and 0 otherwise (no
    * queries, as in batch mode, returns at once). Terminations of other
    * queries on the session are ignored. */
  def awaitTopology(spark: SparkSession, queries: Seq[StreamingQuery]): Int = {
    val streams = spark.streams
    // reset before the check: a query that ends after the reset wakes
    // awaitAnyTermination, one that ended before it fails the check
    while ({ streams.resetTerminated()
      queries.nonEmpty && queries.forall(_.isActive) })
      try streams.awaitAnyTermination()
      catch { case _: StreamingQueryException => } // read per query below
    queries.foreach(_.stop())
    val failed = queries.filter(_.exception.nonEmpty)
    failed.foreach(q => System.err.println(
      s"graft.Main: query ${q.name} (${q.id}) failed: ${q.exception.get}"))
    if (failed.nonEmpty) 1 else 0
  }
}
