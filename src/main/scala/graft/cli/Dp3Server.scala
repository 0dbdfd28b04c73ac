package graft.cli

import graft.api.{Dp3Http, Dp3Service, IngestStore}
import graft.model.{EventsCatalog, IngestedCatalog}
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
  * maintained partials and /import enabled; `--events-dir` fronts a
  * driver-testdata events directory (read-only analytics, no import).
  */
object Dp3Server {

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
        val cat = new IngestedCatalog(s"$dir/data", s"$dir/stats",
          s"$dir/control")
        (new Dp3Service(cat, s => cat.messages(s),
          store = Some(IngestStore(cat))),
          Some(Dp3Http.ImportTarget(s"$dir/data", s"$dir/stats",
            s"$dir/control")))
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
