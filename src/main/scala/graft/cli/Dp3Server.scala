package graft.cli

import org.apache.spark.sql.SparkSession

import graft.api.{Dp3Http, Dp3Service, IngestStore}
import graft.model.{EventsCatalog, IngestedCatalog}
import graft.streaming.Ingest
import graft.util.LocalSession

/** The reference's `dp3 server` verb (reference: cli/cmd/server.go:38,
  * default port 8089): boot a local SparkSession, front a catalog with
  * [[Dp3Service]], and serve [[Dp3Http]] until killed.
  *
  *   runMain graft.cli.Dp3Server --ingest-dir DIR [--port 8089]
  *   runMain graft.cli.Dp3Server --events-dir SFDIR [--port 8089]
  *
  * `--ingest-dir` serves a `startWithStats`/`importMcap` layout
  * (`DIR/data`, `DIR/stats`, `DIR/control`) with stats served from
  * maintained partials and /import enabled ([[ingestService]]);
  * `--events-dir` fronts a driver-testdata events directory (read-only
  * analytics, no import).
  */
object Dp3Server {

  /** The service and /import target of the ingest store under `dir`. A
    * store kept with per-field partials is served with them: their
    * directory and fields come from its manifest
    * ([[Ingest.fieldStatsOf]]), so text predicates prune, per-field
    * /statrange reads the stored partials, and every /import commits
    * the version's field partials. */
  def ingestService(spark: SparkSession, dir: String)
      : (Dp3Service, Dp3Http.ImportTarget) = {
    val target = Dp3Http.ImportTarget(s"$dir/data", s"$dir/stats",
      s"$dir/control", Ingest.fieldStatsOf(spark, s"$dir/data"))
    val cat = new IngestedCatalog(target.dataDir, target.statsDir,
      target.controlDir, target.fieldStats.map(_._1))
    (new Dp3Service(cat, s => cat.messages(s),
      store = Some(IngestStore(cat))), target)
  }

  def main(args: Array[String]): Unit = {
    val flags = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    val port = flags.getOrElse("--port", "8089").toInt
    val spark = LocalSession(
      flags.get("--cpus").fold(LocalSession.defaultCores)(_.toInt))

    val (svc, importTarget) = (flags.get("--ingest-dir"),
        flags.get("--events-dir")) match {
      case (Some(dir), _) =>
        val (svc, target) = ingestService(spark, dir)
        (svc, Some(target))
      case (None, Some(sfDir)) =>
        val cat = new EventsCatalog(sfDir)
        (new Dp3Service(cat, s => cat.messages(s)), None)
      case (None, None) =>
        System.err.println(
          "usage: Dp3Server (--ingest-dir DIR | --events-dir SFDIR) " +
            "[--port 8089] [--cpus N]")
        sys.exit(2)
    }

    // --shared-key enables the reference's demo auth on mutating
    // routes (cli/cmd/server.go shared-key flag, mw.WithSharedKeyAuth)
    val http = new Dp3Http(svc, spark, host = "0.0.0.0", port = port,
      importTarget = importTarget,
      sharedKey = flags.get("--shared-key")).start()
    println(s"dp3 server listening on :${http.boundPort}")
    // serve until the process is killed (the reference blocks in
    // http.ListenAndServe the same way)
    Thread.currentThread().join()
  }
}
