package graft.pipeline

import org.apache.hadoop.fs.Path

/** Crash-safe directory replacement shared by the copy-on-write layers
  * (merge upsert, compaction): write the new content to a temp dir, rename
  * the live dir ASIDE, rename the temp in, then drop the old copy. At
  * every step at least one complete copy of the dataset exists on disk; a
  * failed swap-in restores the old dir, and a crash between the renames is
  * healed by [[recover]]. Single-statement atomicity needs a manifest
  * pointer or a table format (Iceberg/Delta) — this is the strongest
  * ordering plain rename gives, and the one that minimizes the loss
  * window. */
object SafeSwap {

  /** Temp/aside names are DOT-PREFIXED siblings: when the swapped dir is
    * itself a Hive partition directory (`root/day=1`), a visible sibling
    * (`root/day=1.__swap_tmp`) would be picked up by partition discovery
    * as a phantom partition — duplicate rows during the swap window (or
    * forever, after a crash) and a silent partition-column type flip
    * (`1.__swap_tmp` doesn't parse as int → column widens to string).
    * File listing skips `.`/`_`-prefixed names, so the hidden siblings
    * are invisible to every reader at every moment of the swap. */
  private def hiddenSibling(path: String, suffix: String): String = {
    val p = new Path(path)
    new Path(p.getParent, s".${p.getName}$suffix").toString
  }

  def tmpPath(path: String): String = hiddenSibling(path, ".__swap_tmp")
  private def oldPath(path: String): String = hiddenSibling(path, ".__old")

  /** If nothing lives at `path` but the rename-aside copy exists, the old
    * dataset is the last complete state — restore it. Returns true if a
    * recovery ran. */
  def recover(path: String): Boolean = {
    val fs = Fs.of(path)
    val dst = new Path(path)
    val old = new Path(oldPath(path))
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
    else false
  }

  /** Replace the dataset at `path` with whatever `write` produces at the
    * temp location. `write` runs first — the live data is untouched until
    * the new content is complete. A missing `path` (first materialization)
    * degrades to write + rename-in. */
  def replace(path: String)(write: String => Unit): Unit = {
    recover(path)
    val fs = Fs.of(path)
    val dst = new Path(path)
    val tmp = new Path(tmpPath(path))
    val old = new Path(oldPath(path))
    // A crash mid-`write` leaves a populated tmp dir; writers using the
    // default ErrorIfExists save mode would then fail on every retry with
    // "path already exists" — the advertised heal-on-next-run recovery
    // requires the stale tmp to be cleared before `write` runs.
    fs.delete(tmp, true)
    write(tmpPath(path))
    fs.delete(old, true) // leftover from a crashed-but-completed swap
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"swap: cannot move $dst aside")
    if (!fs.rename(tmp, dst)) {
      fs.rename(old, dst) // restore the last complete state
      throw new java.io.IOException(s"swap failed for $path; restored")
    }
    if (fs.exists(old) && !fs.delete(old, true))
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"swap: could not remove old copy at $old")
  }
}
