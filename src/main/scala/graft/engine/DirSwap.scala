package graft.engine

/** Local-fs directory swap under [[Engine.rewrite]], the one
  * rewrite-and-swap every maintenance rewrite goes through (the
  * engine's compaction, retention and snapshot slices, and the IVF
  * index's compaction and retrain for both the engine-built and the
  * stream-built layout); the merge materialization swaps its touched
  * bucket dirs with [[replace]] directly. On HDFS/object stores the
  * analogue is `FileSystem.rename` / a transactional table format's
  * metadata swap.
  *
  * Swap order is crash-safe at every point: the old target is renamed
  * ASIDE (`target.old`) before the staging dir renames into place, and
  * only then deleted — so a crash inside the swap window leaves a
  * recoverable copy (`target.old` plus the committed staging dir),
  * never a state where NO generation of the data exists on disk. The
  * previous delete-then-rename order had exactly that window, which is
  * tolerable for an engine model (rebuildable from sources) but not for
  * a streaming target whose source batches may be retired.
  *
  * The one state a crash can leave that needs more than cleanup is
  * "target missing, `target.old` present" (crash BETWEEN the
  * rename-aside and the rename-into-place): there `.old` is the only
  * surviving generation, and a later writer that recreates `target`
  * from scratch (e.g. a streaming micro-batch appending to the missing
  * index dir) would make the next swap's `.old` cleanup destroy the
  * full history. [[recover]] heals exactly that state — readers and
  * writers call it before touching a swap-managed directory — and
  * [[replace]] runs it first, so in every OTHER state a surviving
  * `.old` is provably the obsolete generation (the rename into
  * `target` is the commit point) and is safe to clear.
  */
object DirSwap {

  /** Per-target monitor serializing [[recover]] against [[replace]]
    * WITHIN this JVM: a reader's per-batch `recover` racing a
    * concurrent maintenance `replace` could otherwise land between the
    * writer's rename-aside and rename-into-place, see (target missing,
    * `.old` present), "heal" the in-progress swap by restoring `.old`,
    * and fail the writer's commit rename. Local mode (and any
    * single-driver deployment, where all maintenance and foreachBatch
    * threads share the JVM) is fully covered by the monitor; a
    * CROSS-process racer is additionally absorbed by [[replace]]'s
    * commit retry below. On a real cluster the durable analogue is a
    * table format's atomic metadata swap, not directory renames.
    *
    * Monitors are LOCK-STRIPED over a fixed array rather than one
    * entry per target path: a per-path ConcurrentHashMap grows without
    * bound in a long-lived driver (every bench/incremental run's temp
    * warehouse adds an entry that is never removed). Two distinct
    * targets hashing to the same stripe merely serialize against each
    * other — a bounded-contention cost, never a correctness one. */
  private val monitors = Array.fill(64)(new Object)
  private def monitorFor(target: String): Object = {
    val key =
      new java.io.File(target).getAbsoluteFile.toPath.normalize.toString
    monitors(math.floorMod(key.hashCode, monitors.length))
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteRec)
    f.delete(); ()
  }

  /** Best-effort recursive delete of a non-swap-managed scratch dir
    * (e.g. a merge's staged delta); missing path is a no-op. */
  def deleteRecursively(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists) deleteRec(f)
  }

  /** Heal a swap torn between rename-aside and rename-into-place: if
    * `target` is missing but `target.old` exists, the aside copy is the
    * ONLY generation — rename it back into place. Returns true when a
    * recovery happened. Call before reading or writing a swap-managed
    * directory; no-op (false) in every healthy state. */
  def recover(target: String): Boolean = monitorFor(target).synchronized {
    val dir = new java.io.File(target)
    val old = new java.io.File(target + ".old")
    if (!dir.exists && old.exists) {
      require(old.renameTo(dir), s"recovery failed restoring $target from .old")
      true
    } else false
  }

  /** Replace `target` with the committed contents of `tmp`. */
  def replace(tmp: String, target: String): Unit = monitorFor(target).synchronized {
    recover(target) // a torn prior swap's .old is the live generation
    val dir = new java.io.File(target)
    val old = new java.io.File(target + ".old")
    if (old.exists) deleteRec(old) // post-recovery, provably obsolete
    if (dir.exists)
      require(dir.renameTo(old), s"swap failed moving $target aside")
    if (!new java.io.File(tmp).renameTo(dir)) {
      // a CROSS-process reader (the monitor can't reach it) may have
      // raced recover() inside our swap window and restored `.old` into
      // place — the restored copy is the generation we just moved aside,
      // provably obsolete once tmp commits: re-aside it and retry the
      // commit rename once.
      if (dir.exists) {
        if (old.exists) deleteRec(old)
        require(dir.renameTo(old), s"swap failed re-asiding $target")
      }
      require(new java.io.File(tmp).renameTo(dir), s"swap failed for $target")
    }
    if (old.exists) deleteRec(old)
  }
}
