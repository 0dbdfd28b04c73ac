package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** THE maintenance-verb filesystem protocol — one audited copy of the
  * write-new-then-flip / park-then-swap / heal-at-entry discipline
  * that the destructive maintenance verbs of the one store not yet on
  * [[ManifestLog]] route through: the ingest store's version scrubs
  * and partition optimize (`graft.streaming.Ingest`, the only
  * remaining caller of the flip and park helpers).
  *
  * Why one copy: the protocol exists because a maintenance verb that
  * crashes between two filesystem mutations must leave a state that is
  * either (a) fully recoverable by re-running the verb (heal-at-entry)
  * or (b) loudly unrecoverable — never a silently wrong answer. Three
  * real crash-window bugs were found in hand-rolled copies of exactly
  * this logic (silent heal over a stranded trash tree, delete-then-
  * rename losing the only copy, a nested temp tree riding a root
  * rename); MaintProtocolSpec now injects a crash at EVERY [[step]]
  * point of the shared helper and asserts heal-or-loud for each verb,
  * which is only tractable because the steps live here once.
  *
  * Protocol choice is the caller's; neither may expose a crash-window
  * DUPLICATE or a half-written tree, which change answers:
  *   - a tree rewritten whole → whole-root flip:
  *     [[healAtEntry]] + [[cleanSiblings]] + build-into-tmp +
  *     [[flipNow]]. Every crash state exposes either the complete old
  *     tree or the complete new one; an absent root with a surviving
  *     sibling is the mid-swap state the data-path entry guards
  *     against.
  *   - per-partition rewrites (a store too large to flip whole) →
  *     [[healParked]] at entry + [[swapPartitionDir]] per partition
  *     with originals PARKED under a shared trash root until the
  *     verb's commit delete — never delete-then-rename.
  *   - the BM25 index, the SequenceShards store, the CorpusDedup
  *     sidecars and the stored vector indexes (IVF, PQ, IVF-PQ)
  *     instead commit through [[ManifestLog]]'s versioned manifest
  *     (one commit point per verb, reads never mutate), whose crash
  *     points are [[step]]s too.
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

  /** Heal-at-entry for flip-protocol verbs. `live` is the caller's
    * own liveness probe of the tree the verb maintains (existence, or
    * existence-with-content — the caller knows its layout).
    *
    * Returns true ⇒ proceed (live present, or just restored from
    * `trash`). Returns false ⇒ the tree was genuinely never written
    * and `missingMsg` is None (callers for which an absent tree is a
    * normal "nothing to maintain" state). A caller that passes
    * `missingMsg = Some(...)` instead fails loudly on a truly absent
    * tree (index verbs, where an absent root with no siblings means a
    * typo'd path — succeeding silently would report a 'successful'
    * heal over a broken index).
    *
    * Heal rule: live absent + trash present is a crashed flip's
    * mid-swap state — restore the ORIGINAL and discard any tmp (a
    * crashed attempt's tmp may have been built under different
    * parameters; restore-and-rerun is uniformly correct where
    * complete-the-crashed-tmp is only safe for parameter-free
    * rewrites). Live absent + tmp present + trash absent is
    * unreachable under the protocol itself (the trash outlives the
    * tmp), so it means external interference — fail loudly, never
    * guess. */
  def healAtEntry(fs: FileSystem, root: Path, tmp: Path, trash: Path,
      verb: String, live: Boolean,
      missingMsg: Option[String] = None): Boolean = {
    if (live) true
    else if (fs.exists(trash)) {
      step(verb, "heal-start")
      if (!fs.rename(trash, root))
        throw new java.io.IOException(s"$verb: heal $trash -> $root")
      step(verb, "heal-restored")
      fs.delete(tmp, true) // never complete a crashed attempt's tmp
      step(verb, "heal-done")
      true
    } else if (fs.exists(tmp))
      throw new java.io.IOException(
        s"$verb: orphan $tmp with no live tree and no $trash")
    else {
      missingMsg.foreach(m => require(requirement = false, m))
      false
    }
  }

  /** Clear both siblings before building (a PRIOR run's leftovers are
    * disposable once the live tree is present — [[healAtEntry]] ran
    * first). Kept separate from [[flipNow]] because verbs early-return
    * between the two (e.g. "fewer than three versions: nothing to
    * fold") and must not leave stale siblings behind for a later
    * heal to misread. */
  def cleanSiblings(fs: FileSystem, tmp: Path, trash: Path,
      verb: String): Unit = {
    fs.delete(tmp, true)
    fs.delete(trash, true)
    step(verb, "cleaned")
  }

  /** The flip: park the live root in `trash`, promote the fully-built
    * `tmp`, then discard the parked original. The caller has already
    * written the COMPLETE new tree under `tmp`. A crash before the
    * first rename leaves the old tree live; between the renames it
    * leaves the original intact in `trash` ([[healAtEntry]] restores
    * it); after the second rename the new tree is live and the parked
    * original is disposable. */
  def flipNow(fs: FileSystem, root: Path, tmp: Path, trash: Path,
      verb: String): Unit = {
    step(verb, "built")
    if (!fs.rename(root, trash))
      throw new java.io.IOException(s"$verb: rename $root -> $trash")
    step(verb, "parked")
    if (!fs.rename(tmp, root)) {
      fs.rename(trash, root) // restore — the old tree is intact
      throw new java.io.IOException(s"$verb: rename $tmp -> $root")
    }
    step(verb, "flipped")
    fs.delete(trash, true)
    step(verb, "committed")
  }

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

  /** Restore the recoverable state after a crashed partition swap:
    * every dir under `trashRoot` is an original renamed away mid-swap
    * — if its live counterpart exists the swap completed (the parked
    * copy is disposable), if not the original goes back. Deletes the
    * park root after healing. Layout is two levels (topic=/day= — the
    * partitioned-store shape). */
  def healParked(fs: FileSystem, root: Path, trashRoot: Path,
      verb: String): Unit = {
    if (!fs.exists(trashRoot)) return
    step(verb, "heal-parked-start")
    for (t <- fs.listStatus(trashRoot) if t.isDirectory;
         o <- fs.listStatus(t.getPath) if o.isDirectory) {
      val live = new Path(new Path(root, t.getPath.getName),
        o.getPath.getName)
      if (!fs.exists(live)) {
        fs.mkdirs(live.getParent)
        if (!fs.rename(o.getPath, live))
          throw new java.io.IOException(
            s"$verb: heal ${o.getPath} -> $live")
      }
    }
    step(verb, "heal-parked-restored")
    fs.delete(trashRoot, true)
    step(verb, "heal-parked-done")
  }

  /** One partition-directory swap under the park protocol: the live
    * dir (when present) is PARKED under `keep` — never deleted — and
    * the freshly-built dir (when present; a partition wholly owned by
    * a scrubbed version has no rewritten remainder) moves into place.
    * Originals stay parked until the verb's commit delete of the park
    * root; [[healParked]] at the next entry restores any original
    * whose live dir went missing mid-swap. */
  def swapPartitionDir(fs: FileSystem, live: Path, fresh: Path,
      keep: Path, verb: String): Unit = {
    fs.mkdirs(keep.getParent)
    if (fs.exists(live)) {
      if (!fs.rename(live, keep))
        throw new java.io.IOException(s"$verb: rename $live -> $keep")
      step(verb, "partition-parked")
    }
    if (fs.exists(fresh) && !fs.rename(fresh, live))
      throw new java.io.IOException(s"$verb: rename $fresh -> $live")
    step(verb, "partition-swapped")
  }
}
