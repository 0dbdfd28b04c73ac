package graft.cli

import graft.tools.Inspect
import graft.util.LocalSession

/** The reference's local storage-inspection verbs (`dp3 treeinspect`,
  * `dp3 walinspect` — cli/cmd/treeinspect.go, walinspect.go) as one
  * admin main. Like the reference these read storage directly — no
  * server involved:
  *
  *   runMain graft.cli.Dp3Inspect tree DATA_DIR [--topic T]
  *   runMain graft.cli.Dp3Inspect wal CHECKPOINT_DIR
  *
  * `tree` prints the partition → file → row-group hierarchy with time
  * ranges, row counts and byte sizes from parquet footers only; `wal`
  * lists the streaming checkpoint's batches and flags planned-but-
  * uncommitted ones (the replay set after a crash).
  */
object Dp3Inspect {

  def main(args: Array[String]): Unit = {
    val flags = scala.collection.mutable.Map[String, String]()
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      if (args(i).startsWith("--") && i + 1 < args.length) {
        flags(args(i)) = args(i + 1); i += 2
      } else { positional += args(i); i += 1 }
    }
    positional.toList match {
      case "tree" :: dir :: Nil =>
        val spark = LocalSession()
        try Inspect.printTree(spark, dir, Console.out,
          flags.get("--topic"))
        finally spark.stop()
      case "wal" :: dir :: Nil =>
        Inspect.printCheckpoint(dir, Console.out)
      case other =>
        System.err.println(
          s"""unknown command: ${other.mkString(" ")}
             |usage: Dp3Inspect tree DATA_DIR [--topic T]
             |       Dp3Inspect wal CHECKPOINT_DIR""".stripMargin)
        sys.exit(2)
    }
  }
}
