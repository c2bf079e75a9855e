package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}

/** ONE home for the single-writer lock protocol ([[withLock]]) that
  * [[Versioning]]'s dataset lock and [[AnnIndex]]'s index-writer lock
  * ride: a lock is an exclusively-created file — server-side
  * `create(overwrite=false)` on HDFS, nio O_CREAT|O_EXCL on local
  * filesystems (Hadoop's local `create(false)` is a check-then-create
  * TOCTOU between JVM-concurrent claimants). The guarantee is
  * HDFS/posix-only; object stores lack server-side exclusive create,
  * and [[requireAtomicFs]] refuses them outright.
  *
  * CRASH RECOVERY. A crashed holder (kill -9, OOM, node loss — the
  * cluster norm) skips its `finally` and leaves the lock behind.
  * Three recovery paths:
  *   1. AUTOMATIC, same host ([[acquireOrReclaim]]): the holder
  *      stamp carries pid+host; when the stamped host is THIS host
  *      and the pid provably no longer exists, the orphan is
  *      reclaimed and acquisition retried immediately. This is what
  *      lets a checkpoint-restarted streaming writer recover unaided
  *      after its predecessor was killed mid-batch (the
  *      q154/ReplaySpec composition).
  *   2. AUTOMATIC, any host (heartbeat lease): holders refresh the
  *      lock file's mtime every [[HeartbeatMs]] while their mutation
  *      runs ([[withHeartbeat]]); an acquirer may reclaim a lock
  *      whose stamp ADVERTISES lease participation (`lease=<ttl>`,
  *      see [[holderStamp]]) and whose heartbeat has been silent
  *      past the advertised TTL — the path a restart rescheduled
  *      onto a DIFFERENT node (where the pid is unprobeable) needs.
  *      Recovery latency = the TTL. Stamps without the field (written
  *      by an older binary) never promised to heartbeat or fence, so
  *      they are NEVER lease-reclaimed.
  *   3. MANUAL ([[release]], behind `AnnIndex.breakIndexLock` and
  *      `Versioning.breakLock`): the operator confirms the stamped
  *      holder dead and deletes the lock — now only needed to beat
  *      the TTL clock.
  * Both paths can be WRONG in one way — breaking a holder that is
  * actually alive (pid recycled; operator misread) yields two
  * writers. [[Fence.verify]] is the backstop: every writer re-checks
  * that the lock file still carries ITS stamp immediately before
  * each tree-mutating write, so a fenced-out writer aborts before
  * damaging the tree instead of racing the usurper.
  */
private[graft] object FsLock {

  private def localHost: String =
    java.net.InetAddress.getLocalHost.getHostName

  /** This process's pid-namespace identity (Linux: the /proc/self/
    * ns/pid symlink target, e.g. "pid:[4026531836]"). Two containers
    * on one node can report the SAME hostname while owning DISJOINT
    * pid tables — a pid probe across namespaces proves nothing, so
    * the stamp carries the namespace and [[holderProvablyDead]]
    * refuses to probe across a mismatch. None on non-Linux ⇒ pid
    * probing disabled there (the lease path still recovers).
    */
  def localPidNamespace: Option[String] =
    try Some(java.nio.file.Files.readSymbolicLink(
      java.nio.file.Paths.get("/proc/self/ns/pid")).toString)
    catch { case _: Exception => None }

  /** This process's start time in epoch millis — the recycled-pid
    * detector: a probe that finds the pid ALIVE but with a different
    * start instant is looking at a new process wearing a dead
    * holder's pid, which is a proof of death, not of life.
    */
  private def startMillisOf(h: ProcessHandle): Option[Long] = {
    val o = h.info().startInstant()
    if (o.isPresent) Some(o.get.toEpochMilli) else None
  }

  /** Holder identity stamped INTO the lock file at acquisition — what
    * the operator deciding whether to break a lock reads to find (and
    * confirm dead) its holder, what [[holderProvablyDead]] probes
    * (pid + host + pid-namespace + process start time), and (via the
    * per-acquisition token) what [[Fence.verify]] compares. Empty
    * lock files gave them nothing.
    *
    * The `lease=<ttlMs>` field ADVERTISES lease participation: this
    * holder PROMISES to heartbeat ([[withHeartbeat]]) and to fence
    * its writes, so a silent mtime past the advertised TTL really
    * means a stopped heart. [[withLock]], the one acquirer, keeps
    * that promise for every stamp it writes. TTL reclaim stays GATED
    * on the field ([[acquireOrReclaim]]): a lock file written by an
    * older binary may lack it, has a static mtime, and made no such
    * promise; reclaiming it after 180 s would manufacture two
    * unfenced concurrent writers. Such locks recover only via the pid
    * probe or a manual break.
    */
  def holderStamp(op: String): String = {
    val self = ProcessHandle.current()
    s"op=$op pid=${self.pid()} host=$localHost " +
      localPidNamespace.map(n => s"pidns=$n ").getOrElse("") +
      startMillisOf(self).map(s => s"start=$s ").getOrElse("") +
      s"lease=$leaseTtlMs " +
      s"token=${java.util.UUID.randomUUID()} " +
      s"acquired=${java.time.Instant.now()}"
  }

  /** Parse a stamp's `k=v` fields (whitespace-separated; values never
    * contain whitespace by construction).
    */
  private def stampFields(info: String): Map[String, String] =
    info.split("\\s+").iterator.flatMap { f =>
      f.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap

  /** The lease TTL a holder ADVERTISED at acquisition — None for
    * stamps that never promised to heartbeat (older binaries), which
    * makes them ineligible for TTL
    * reclaim. Reclaimers honor the HOLDER's advertised TTL, not
    * their own config: a holder beating against a longer local TTL
    * must not be reclaimed on a shorter one.
    */
  def advertisedLeaseTtl(info: String): Option[Long] =
    stampFields(info).get("lease")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .filter(_ > 0L)

  /** Try to acquire `lock` via exclusive create, stamping `info` into
    * the file. Returns true iff this caller created the file (and
    * therefore owns the lock). The create is the atomic claim; the
    * content write rides the same call (CREATE_NEW locally, the
    * exclusive create's own stream on HDFS), so a visible lock file
    * always carries its holder line. Two failure modes, two owners: a
    * failed create with the file present is ANOTHER writer's lock
    * (false), one with the file absent is a genuine I/O error
    * (rethrown); a failed stamp write AFTER our create is OUR lock —
    * it must not be mistaken for a foreign holder (the caller would
    * back off forever from a lock nobody will ever release), so it is
    * deleted and the error rethrown.
    */
  def tryAcquire(fs: FileSystem, lock: Path, info: String = ""): Boolean = {
    val created: Option[java.io.OutputStream] =
      if (fs.isInstanceOf[LocalFileSystem] || fs.isInstanceOf[RawLocalFileSystem])
        try Some(java.nio.file.Files.newOutputStream(
          java.nio.file.Paths.get(lock.toUri.getPath),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE))
        catch { case _: java.nio.file.FileAlreadyExistsException => None }
      else
        try Some(fs.create(lock, false))
        catch {
          case e: java.io.IOException =>
            if (fs.exists(lock)) None else throw e
        }
    created.exists { out =>
      try {
        try out.write(info.getBytes(StandardCharsets.UTF_8))
        finally out.close()
      } catch {
        case e: java.io.IOException =>
          try fs.delete(lock, false) catch { case _: java.io.IOException => () }
          throw e
      }
      true
    }
  }

  /** The holder line of a held lock — the comparator for
    * [[Fence.verify]], [[releaseOwned]] and [[heartbeat]], so the
    * read must be COMPLETE: a single short read (legal for any
    * FSDataInputStream) truncating the stamp would make a holder's
    * own lock compare foreign. Reads to EOF (stamps are ~200 bytes;
    * the buffer bounds a corrupt file). None if the lock vanished
    * (holder released between the failed acquire and this read) or
    * predates holder stamping.
    */
  def holderInfo(fs: FileSystem, lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try {
        val bytes = new Array[Byte](4096)
        var off = 0
        var n = 0
        while (off < bytes.length && n >= 0) {
          n = in.read(bytes, off, bytes.length - off)
          if (n > 0) off += n
        }
        if (off == 0) None
        else Some(new String(bytes, 0, off, StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** True iff the stamped holder is PROVABLY dead from here. Probing
    * is only meaningful inside the holder's own pid table, so it
    * requires stamped host == this host AND stamped pid-namespace ==
    * this namespace (two containers on one node can share a hostname
    * while owning disjoint pid tables — the probe must refuse that
    * case, not mis-prove it). Inside the namespace: pid absent ⇒
    * dead; pid ALIVE but with a different process start time ⇒ a NEW
    * process recycled the dead holder's pid ⇒ dead; pid alive with
    * the stamped start (or no start to compare) ⇒ alive. Conservative
    * everywhere else — foreign host, namespace mismatch or absence,
    * stampless lock — leaving recovery to the lease or the operator.
    * Upgrade note: a stamp written WITHOUT a pidns field (an older
    * binary) probed from a namespaced (Linux) host falls into the
    * conservative arm — and since the lease reclaim is gated on the
    * stamp ADVERTISING lease participation (`lease=`, which an older
    * binary never wrote), such orphans are not TTL-reclaimed either:
    * during a rolling upgrade they recover only via the pid probe
    * (same host+namespace) or a manual [[release]].
    */
  def holderProvablyDead(info: String): Boolean = {
    val fields = stampFields(info)
    val sameNs = (fields.get("pidns"), localPidNamespace) match {
      case (Some(a), Some(b)) => a == b
      // a namespaceless stamp (non-Linux writer) probed from a
      // namespaceless prober: one pid table by construction
      case (None, None) => true
      case _ => false
    }
    val sameTable = fields.get("host").contains(localHost) && sameNs
    if (!sameTable) false
    else fields.get("pid").flatMap(p => scala.util.Try(p.toLong).toOption)
      .exists { pid =>
        val h = ProcessHandle.of(pid)
        if (!h.isPresent || !h.get.isAlive) true
        else (fields.get("start").flatMap(s =>
            scala.util.Try(s.toLong).toOption), startMillisOf(h.get)) match {
          case (Some(stamped), Some(actual)) => stamped != actual
          case _ => false
        }
      }
  }

  /** Lease TTL: a held lock whose heartbeat (mtime refresh, below)
    * has been silent longer than this is reclaimable by ANY acquirer,
    * including one on another host — the recovery path the pid probe
    * cannot reach (a checkpoint restart rescheduled onto a different
    * node after node loss, the 100 TB-cluster norm). Holders heartbeat
    * every [[HeartbeatMs]] while their mutation runs, so only a
    * stopped heart (crash) ever expires; a paused-but-alive holder
    * (GC stall, FS hiccup) that overshoots the TTL and gets wrongly
    * reclaimed is caught by [[Fence.verify]] before it can touch the
    * tree — the fencing backstop is what makes TTL reclaim safe to
    * turn on at all. Cross-host clock skew is bounded by NTP and two
    * orders of magnitude below the TTL. Tunable for specs via
    * -Dgraft.lock.lease.ttl.ms.
    */
  val DefaultLeaseTtlMs: Long = 180000L
  val HeartbeatMs: Long = 15000L

  def leaseTtlMs: Long =
    java.lang.Long.getLong("graft.lock.lease.ttl.ms", DefaultLeaseTtlMs)

  /** True iff the lock exists and its heartbeat is silent past `ttl`.
    * A vanished lock or unreadable status reads as NOT expired —
    * reclaim decisions stay conservative on anything unprovable.
    */
  def leaseExpired(fs: FileSystem, lock: Path, ttlMs: Long): Boolean =
    try System.currentTimeMillis() -
      fs.getFileStatus(lock).getModificationTime > ttlMs
    catch { case _: java.io.IOException => false }

  /** Refresh a held lock's heartbeat — but never a lock this holder
    * no longer owns (a fenced-out holder's heart must not mask the
    * NEW holder's own liveness signal).
    */
  def heartbeat(fs: FileSystem, lock: Path, stamp: String): Unit =
    try {
      if (holderInfo(fs, lock).contains(stamp))
        fs.setTimes(lock, System.currentTimeMillis(), -1L)
    } catch { case _: java.io.IOException => () }

  /** Run `body` with a daemon heartbeat thread refreshing the held
    * lock every [[HeartbeatMs]] (bounded by ttl/4 so shrunken spec
    * TTLs stay live). The thread dies with the body, success or
    * failure.
    */
  def withHeartbeat[T](fs: FileSystem, lock: Path, stamp: String)
      (body: => T): T = {
    val interval = math.max(50L, math.min(HeartbeatMs, leaseTtlMs / 4))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      while (!stop.get()) {
        try Thread.sleep(interval)
        catch { case _: InterruptedException => () }
        // NOTHING may kill this loop while the body runs: a dead
        // heart under a healthy hours-long mutation is exactly the
        // wrong-reclaim the lease must not manufacture (heartbeat
        // itself swallows IOException; this catches everything else,
        // e.g. an FS that rejects setTimes)
        if (!stop.get())
          try heartbeat(fs, lock, stamp)
          catch { case _: Throwable => () }
      }
    }, s"graft-lock-heartbeat-${lock.getName}")
    t.setDaemon(true)
    t.start()
    try body finally { stop.set(true); t.interrupt() }
  }

  /** [[tryAcquire]], auto-reclaiming a crash-orphaned lock whose
    * stamped holder [[holderProvablyDead]] proves dead (same host,
    * vanished pid) OR whose heartbeat lease has expired (any host —
    * at the TTL the holder itself advertised, and ONLY if it
    * advertised one: a stamp without `lease=` never promised to
    * heartbeat or fence, so its static mtime proves nothing —
    * see [[advertisedLeaseTtl]]). The reclaim deletes
    * CONDITIONALLY ([[releaseOwned]] against the stamp just proven
    * dead/expired): a FRESH holder that re-acquired between our read
    * and our delete keeps its lock, shrinking the wrong-break window
    * to the read-delete gap of a single stamp comparison. Concurrent
    * reclaimers are arbitrated by the retried exclusive create
    * (exactly one wins); the residual race is why every writer must
    * [[Fence.verify]] before its tree-mutating writes. Returns true
    * iff this caller now owns the lock under `info`.
    */
  def acquireOrReclaim(fs: FileSystem, lock: Path, info: String): Boolean =
    tryAcquire(fs, lock, info) || {
      val held = holderInfo(fs, lock)
      val reclaimable = held.exists(h => holderProvablyDead(h) ||
        advertisedLeaseTtl(h).exists(ttl => leaseExpired(fs, lock, ttl)))
      if (reclaimable) {
        releaseOwned(fs, lock, held.get)
        tryAcquire(fs, lock, info)
      } else false
    }

  /** Release ONLY if the lock still carries this holder's stamp: a
    * holder that was fenced out (its lock broken and re-acquired)
    * must not delete the usurper's lock on its way down — that would
    * orphan-break the NEW writer and cascade the very race fencing
    * exists to stop. Idempotent; a vanished lock is a no-op.
    */
  def releaseOwned(fs: FileSystem, lock: Path, stamp: String): Unit =
    if (holderInfo(fs, lock).contains(stamp)) release(fs, lock)

  /** Release a held (or orphaned) lock unconditionally — the manual
    * break path. Idempotent.
    */
  def release(fs: FileSystem, lock: Path): Unit =
    fs.delete(lock, false)

  /** Write-time fencing: proof this holder STILL owns the lock,
    * checked immediately before each tree COMMIT. Catches every
    * wrong-break case (an operator's `break*` against a live holder;
    * [[acquireOrReclaim]]'s delete racing a fresh acquire; a lease
    * expiring under a stalled-but-alive holder) — the fenced-out
    * writer throws BEFORE touching the tree, so the single-writer
    * invariant holds even when the lock protocol was violated around
    * it. What makes the check meaningful for DISTRIBUTED writes is
    * the stage→fence→rename commit discipline (AnnIndex.commitStaged,
    * Versioning.publish): the minutes-long job lands in a dot-hidden
    * stage dir that no reader and no successor writer shares (a
    * fenced-out twin's late job commit lands in its OWN stage), and
    * only the fence-guarded RENAME — a metadata op, milliseconds —
    * touches the live tree.
    */
  final class Fence private[ops] (fs: FileSystem, lock: Path,
      stamp: String, what: String) {
    def verify(): Unit = {
      // one short retry before aborting: fencing is a correctness
      // primitive now, and a single transient read hiccup (the
      // holderInfo IOException→None path) must not kill an hours-long
      // mutation that still owns its lock — a REAL break stays broken
      // across both reads
      val cur = holderInfo(fs, lock)
      if (!cur.contains(stamp)) {
        Thread.sleep(100L)
        val again = holderInfo(fs, lock)
        if (!again.contains(stamp)) throw new IllegalStateException(
          s"$what: fenced out — this writer's lock was broken and " +
            s"${again.map(h => s"re-acquired by [$h]")
              .getOrElse("not re-acquired")}" +
            "; aborting before the tree-mutating write (was the holder " +
            "broken while still alive?)")
      }
    }
  }

  def fence(fs: FileSystem, lock: Path, stamp: String, what: String): Fence =
    new Fence(fs, lock, stamp, what)

  /** Filesystem schemes on which the protocol's two primitives DO NOT
    * hold: object stores where `create(overwrite=false)` is a
    * client-side check-then-create (no server-side exclusive create)
    * and rename is a non-atomic copy+delete — so neither the
    * single-writer lock nor an atomic pointer swap would actually be
    * atomic. Production object-store deployments need a real
    * coordination layer (a table format or a lock service), not this
    * file-convention protocol. HDFS (server-side exclusive create +
    * atomic in-namespace rename) and local/posix (O_CREAT|O_EXCL +
    * atomic rename(2)) are the supported homes.
    */
  private val NonAtomicSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss",
      "oss", "cosn", "swift")

  /** Refuse a non-atomic filesystem loudly rather than silently
    * degrading to "probably fine" semantics (see [[NonAtomicSchemes]]).
    */
  private[ops] def requireAtomicFs(fs: FileSystem, dir: String,
      op: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    require(!NonAtomicSchemes.contains(scheme),
      s"$op: $dir is on '$scheme', which has no atomic " +
        "rename or server-side exclusive create — the single-writer and " +
        "atomic-pointer-swap guarantees would not hold. Use HDFS/posix, " +
        "or a table format with a real commit protocol for object stores")
  }

  /** Run `body` as the single writer of the tree that holds `lock`:
    * refuse non-atomic filesystems, acquire (reclaiming a provably
    * dead or lease-expired orphan, [[acquireOrReclaim]]), heartbeat
    * while the body runs (recovery path 2), and release in `finally`
    * — release-if-owned, so a writer fenced out mid-body leaves the
    * usurper's lock alone. A held lock fails this writer LOUDLY with
    * `op: refusal` and the holder line, and nothing is mutated. The
    * body receives a [[Fence]] and must `verify()` immediately before
    * each tree-mutating write.
    */
  def withLock[T](fs: FileSystem, lock: Path, op: String, refusal: String)
      (body: Fence => T): T = {
    requireAtomicFs(fs, lock.getParent.toString, op)
    fs.mkdirs(lock.getParent)
    val stamp = holderStamp(op)
    if (!acquireOrReclaim(fs, lock, stamp)) {
      val holder = holderInfo(fs, lock).map(h => s"; holder: $h").getOrElse("")
      throw new IllegalStateException(s"$op: $refusal [lock: $lock$holder]")
    }
    try withHeartbeat(fs, lock, stamp)(body(fence(fs, lock, stamp, op)))
    finally releaseOwned(fs, lock, stamp)
  }

  /** Replace the small file `target` with `content` atomically: write
    * a dot-hidden temp sibling, then ONE FileContext rename with
    * OVERWRITE — a single replace on posix and HDFS that THROWS on
    * failure (`FileSystem.rename` returns false). No reader sees the
    * file absent or truncated; a delete-then-rename pair would leave
    * a no-file window a crash could land in.
    */
  def replaceAtomically(conf: Configuration, target: Path,
      content: String): Unit = {
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val out = tmp.getFileSystem(conf).create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(target.toUri, conf)
      .rename(tmp, target, Options.Rename.OVERWRITE)
  }
}
