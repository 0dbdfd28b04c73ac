package graft.util

/** The crash points of the maintenance commit protocol. Every stored
  * structure — the ingest store, the BM25 index, the SequenceShards
  * store, the CorpusDedup sidecars and the stored vector indexes —
  * commits through [[ManifestLog]]: a verb writes immutable files, then
  * makes them visible by creating the next manifest (its ONE commit
  * point), then deletes what only the superseded manifest listed. A
  * crash therefore leaves either the old manifest live (the new files
  * unlisted) or the new one (its clean unfinished), and the next verb's
  * open tidies both; readers only ever read what a manifest lists.
  *
  * [[ManifestLog]] marks each boundary between two filesystem
  * mutations (`opened`, `written`, `staged`, `committed`, `superseded`,
  * `cleaned`) with a [[step]]. MaintProtocolSpec swaps in a
  * [[crashHook]] that throws at one chosen (verb, point), so its crash
  * matrix enumerates every window of every verb and asserts that a
  * re-run gives the never-crashed answer, and observes reads that
  * overlap a verb at each point.
  */
object Maint {

  /** Crash-injection point for MaintProtocolSpec: production leaves
    * the no-op; the spec swaps in a hook that throws at one chosen
    * (verb, point) to simulate a crash between two filesystem
    * mutations, then asserts the verb heals or fails loudly. */
  @volatile private[graft] var crashHook: (String, String) => Unit =
    (_, _) => ()

  /** Mark a protocol point (a boundary between filesystem mutations).
    * Verbs may add their own points for mutations outside the shared
    * helpers (e.g. a fold's superseded-source deletes). */
  private[graft] def step(verb: String, point: String): Unit =
    crashHook(verb, point)

  /** ceil(bytes / target), floored at 1 — the Ingest.optimize output
    * sizing, shared by the sidecar folds so a fold emits target-sized
    * files instead of one file per AQE-coalesced task (which collapsed
    * a toy-scale sidecar to ≤2 files and with it the scan parallelism
    * of every downstream candidate join). */
  def sizedFileCount(bytes: Long, targetBytesPerFile: Long): Int = {
    require(targetBytesPerFile >= 1,
      s"targetBytesPerFile must be >= 1: $targetBytesPerFile")
    math.max(1L,
      (bytes + targetBytesPerFile - 1) / targetBytesPerFile)
      .min(Int.MaxValue.toLong).toInt
  }
}
