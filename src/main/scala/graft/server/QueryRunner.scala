package graft.server

import org.apache.spark.sql.SparkSession

import graft.model.{GraphWal, TestGraph}

/** `helix query`-style entry point (helix-cli/src/commands/query.rs:
  * 25-101): run one DynamicQueryRequest envelope against a store from
  * spark-submit and print the response JSON to stdout — no HTTP server.
  *
  * Usage (spark-submit --class graft.server.QueryRunner <jar> ...):
  *   --store <root>   persistent store root (GraphWal layout; recovered
  *                    via snapshot + segment replay; writes commit to
  *                    the same log, so a later run sees them)
  *   --data <dir>     OR: the driver testdata projection (read-only)
  *   --file <path>    envelope JSON from a file
  *   --json <inline>  envelope JSON inline (alternative to --file)
  *   --bundle <path>  optional queries.json bundle to deploy first
  *   --name <route>   run a stored route from the bundle with --json
  *                    / --file as the PARAMS body instead of a raw
  *                    envelope
  *   --replica        open the store through the read-replica path
  *                    (GraphWal.openReplica: snapshot + committed-
  *                    segment replay, no writer coordination) and
  *                    serve READS ONLY — the per-process entry a
  *                    multi-machine deployment runs N of against one
  *                    shared WAL root, writes going to the single
  *                    writer process
  *
  * The execution path is exactly the Gateway's (same envelope codec,
  * batch executor, WAL commit hook) — this main only swaps the HTTP
  * listener for argv/stdout.
  */
object QueryRunner {

  final case class Args(store: Option[String], data: Option[String],
      file: Option[String], json: Option[String], bundle: Option[String],
      name: Option[String], replica: Boolean = false)

  private[graft] def parseArgs(argv: Seq[String]): Args = {
    def loop(rest: List[String], a: Args): Args = rest match {
      case "--store" :: v :: t => loop(t, a.copy(store = Some(v)))
      case "--data" :: v :: t => loop(t, a.copy(data = Some(v)))
      case "--file" :: v :: t => loop(t, a.copy(file = Some(v)))
      case "--json" :: v :: t => loop(t, a.copy(json = Some(v)))
      case "--bundle" :: v :: t => loop(t, a.copy(bundle = Some(v)))
      case "--name" :: v :: t => loop(t, a.copy(name = Some(v)))
      case "--replica" :: t => loop(t, a.copy(replica = true))
      case Nil => a
      case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
    }
    val a = loop(argv.toList, Args(None, None, None, None, None, None))
    require(a.store.isDefined ^ a.data.isDefined,
      "exactly one of --store/--data is required")
    require(a.file.isDefined ^ a.json.isDefined,
      "exactly one of --file/--json is required")
    require(!a.replica || a.store.isDefined, "--replica requires --store")
    a
  }

  /** Testable core: build the store, run the envelope (or stored
    * route), return the response JSON. Writes against `--store` commit
    * to its WAL before returning.
    */
  private[graft] def run(spark: SparkSession, argv: Seq[String]): String = {
    val a = parseArgs(argv)
    val store = a.store match {
      case Some(root) if a.replica => GraphWal.openReplica(spark, root).served
      case Some(root) => GraphWal.recover(spark, root)
      case None => TestGraph(spark, a.data.get)
    }
    // a replica never commits: no WAL hook, and write envelopes are
    // rejected before execution (an uncommitted in-memory write would
    // silently vanish — route writes to the writer process)
    val gw = new Gateway(store, walRoot = if (a.replica) None else a.store)
    a.bundle.foreach(p => gw.loadBundle(
      java.nio.file.Files.readString(java.nio.file.Paths.get(p))))
    val body = a.json.getOrElse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(a.file.get)))
    val req = gw.resolve(a.name.getOrElse(""), body, Gateway.Steering.Plain)
    require(!(a.replica && req.write), "--replica serves reads only; route writes to the writer")
    gw.serveBuffered(req).body
  }

  def main(argv: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus, sys.env.get("SPARK_GRAFT_MASTER"))
    try println(run(spark, argv.toSeq))
    finally spark.stop()
  }
}
