package graft.pipeline

import org.apache.hadoop.fs.Path

/** ENFORCEMENT of the single-maintenance-writer contract the stores in
  * this package document ([[Rollup]], [[AppendCommit]]): a hidden
  * lease-style lock file taken for the duration of a store mutation.
  * Without it, two interleaved merges both read the same base, both
  * swap, and the loser's fold silently VANISHES — the worst failure
  * class (no error, wrong data). With it, the second writer fails
  * LOUDLY with the holder's identity, which is the correct outcome for
  * a contract violation: maintenance is supposed to be one cron, not a
  * fleet.
  *
  * Crash-liveness: a writer that died holding the lock would deadlock
  * the store forever, so the lock is a LEASE — a lock file older than
  * `leaseMs` is presumed orphaned, logged, and broken. That reopens a
  * theoretical race (a writer pausing longer than the lease mid-merge),
  * which is the standard trade of filesystem lease locks; size the
  * lease above any plausible merge duration. `fs.create(overwrite =
  * false)` is the create-if-absent primitive — atomic on HDFS,
  * check-then-create on local FS (enforcement-grade, not consensus). */
object MaintenanceLock {

  /** Hidden sibling, not a child: the guarded dir is SafeSwap-replaced
    * wholesale — a lock inside it would vanish with the swap. */
  private def lockPath(dir: String, tag: String): Path = {
    val p = new Path(dir)
    new Path(p.getParent, s".${p.getName}.__lock$tag")
  }

  val DefaultLeaseMs: Long = 30L * 60 * 1000

  /** Run `body` holding the lock for `dir` (optionally sub-keyed by
    * `tag`, e.g. an append batch id). Throws `java.io.IOException` if a
    * live writer holds it. */
  def withLock[T](dir: String, tag: String = "",
      leaseMs: Long = DefaultLeaseMs)(body: => T): T = {
    val fs = Fs.of(dir)
    val lock = lockPath(dir, tag)
    fs.mkdirs(lock.getParent)
    // Break an orphaned lease (holder died mid-merge) by RENAMING it to
    // a unique tombstone, not delete-then-create: rename is the atomic
    // primitive, so of two contenders that both observe the expired
    // lock exactly ONE wins the rename (the loser's rename fails on the
    // now-missing source) — a delete here could instead remove the
    // OTHER contender's freshly-created lock, letting both proceed as
    // maintenance writers (the silent-lost-fold failure this lock
    // exists to make loud). The loser simply falls through to the
    // create attempt below and loses there too if the winner got in.
    if (fs.exists(lock)) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lock).getModificationTime
      if (age > leaseMs) {
        val tomb = new Path(lock.getParent,
          s"${lock.getName}.broken_${java.util.UUID.randomUUID()}")
        if (fs.rename(lock, tomb)) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"broke orphaned maintenance lock $lock (age ${age}ms > " +
              s"lease ${leaseMs}ms)")
          fs.delete(tomb, false)
        }
      }
    }
    val holder =
      s"${java.net.InetAddress.getLocalHost.getHostName}:" +
        s"${ProcessHandle.current().pid()}:${Thread.currentThread().getId}:" +
        s"${java.util.UUID.randomUUID()}"
    val acquired =
      try {
        val os = fs.create(lock, /* overwrite = */ false)
        try os.write(holder.getBytes("UTF-8")) finally os.close()
        // create(overwrite=false) is check-then-create on a local FS —
        // two racers can interleave past the check. Re-read and verify
        // the lock carries THIS holder's identity (UUID-unique); on a
        // torn/foreign read, at most one contender sees its own bytes
        // and everyone else fails loudly — fail-safe, never two writers
        val in = fs.open(lock)
        val back = try new String(in.readAllBytes(), "UTF-8")
          finally in.close()
        back == holder
      } catch { case _: java.io.IOException => false }
    if (!acquired) {
      val held = try {
        val in = fs.open(lock)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      } catch { case _: Exception => "<unknown>" }
      throw new java.io.IOException(
        s"concurrent maintenance writer on $dir${if (tag.nonEmpty)
          s" (unit $tag)" else ""}: lock held by $held — the " +
          "single-writer contract requires one maintenance process per " +
          "store; the losing fold fails loudly instead of vanishing")
    }
    try body finally fs.delete(lock, false)
  }
}
