package graft.ops

import java.nio.file.Files

import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}

import graft.SparkSpecBase

/** The lock-file primitive's crash-recovery surface: dead-holder
  * liveness proof, auto-reclaim, owned release, and write-time
  * fencing. The protocol-level composition (a checkpoint-restarted
  * ingest stream recovering over a crash-orphaned lock) lives in
  * ReplaySpec; the mutation-level refusals in AnnIndexSpec /
  * VersioningSpec.
  */
class FsLockSpec extends SparkSpecBase {

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def tmpLock(): Path =
    new Path(Files.createTempDirectory("graft_fslock").toString, "_lock")

  private def localHost = LockTestSupport.localHost
  private def deadPid = LockTestSupport.deadPid
  private def stampWith(pid: Long, host: String = localHost): String =
    LockTestSupport.plantedStamp("test", pid, host)

  test("holderProvablyDead: only a same-host same-pid-namespace stamp " +
      "with a vanished (or recycled) pid proves death — live pid, " +
      "foreign host, foreign namespace, and unparseable stamps all " +
      "stay conservative") {
    assert(FsLock.holderProvablyDead(stampWith(deadPid)))
    assert(!FsLock.holderProvablyDead(
      stampWith(ProcessHandle.current().pid())), "own (live) pid")
    assert(!FsLock.holderProvablyDead(
      stampWith(deadPid, host = "some-other-node")), "foreign host")
    assert(!FsLock.holderProvablyDead("op=old-style-stamp"),
      "pre-stamp lock content")
    assert(!FsLock.holderProvablyDead(""), "empty content")
    // the real stamp carries everything the probe needs about ITSELF
    assert(!FsLock.holderProvablyDead(FsLock.holderStamp("x")),
      "a live holder's own stamp must never read as dead")
    // SAME HOSTNAME, DIFFERENT pid table (two containers reporting the
    // node's hostname): the probe must refuse, not mis-prove — a dead
    // pid in OUR namespace says nothing about theirs
    if (FsLock.localPidNamespace.isDefined) {
      val foreignNs =
        s"op=x pid=$deadPid host=$localHost pidns=pid:[999999] " +
          "token=t acquired=2024-01-01T00:00:00Z"
      assert(!FsLock.holderProvablyDead(foreignNs),
        "pid-namespace mismatch must refuse the probe")
      val noNs = s"op=x pid=$deadPid host=$localHost token=t " +
        "acquired=2024-01-01T00:00:00Z"
      assert(!FsLock.holderProvablyDead(noNs),
        "a namespaceless stamp probed from a namespaced host is " +
          "unprovable")
    }
    // RECYCLED pid: alive, but with a different start instant than the
    // stamp recorded ⇒ a new process wearing a dead holder's pid ⇒
    // provably dead (the start-time check is what makes pid reuse safe)
    val self = ProcessHandle.current()
    val start = self.info().startInstant()
    if (start.isPresent) {
      val ns = FsLock.localPidNamespace.map(n => s"pidns=$n ").getOrElse("")
      val recycled =
        s"op=x pid=${self.pid()} host=$localHost ${ns}start=12345 " +
          "token=t acquired=2024-01-01T00:00:00Z"
      assert(FsLock.holderProvablyDead(recycled),
        "live pid with a mismatched start instant is a recycled pid")
      val genuine =
        s"op=x pid=${self.pid()} host=$localHost $ns" +
          s"start=${start.get.toEpochMilli} token=t " +
          "acquired=2024-01-01T00:00:00Z"
      assert(!FsLock.holderProvablyDead(genuine),
        "live pid with the stamped start instant is the holder")
    }
  }

  test("acquireOrReclaim: reclaims a dead-pid orphan unaided, refuses a " +
      "live holder, and concurrent reclaimers are arbitrated by the " +
      "retried exclusive create") {
    val lock = tmpLock()
    // plain acquire on a free path
    val mine = FsLock.holderStamp("acq")
    assert(FsLock.acquireOrReclaim(fs, lock, mine))
    assert(FsLock.holderInfo(fs, lock).contains(mine))
    // a LIVE holder (this very stamp) refuses a second acquirer
    assert(!FsLock.acquireOrReclaim(fs, lock, FsLock.holderStamp("acq2")))
    assert(FsLock.holderInfo(fs, lock).contains(mine),
      "a refused acquire must not disturb the held lock")
    FsLock.release(fs, lock)
    // a crash-orphaned lock (dead pid, this host) self-heals
    assert(FsLock.tryAcquire(fs, lock, stampWith(deadPid)))
    val next = FsLock.holderStamp("recovered")
    assert(FsLock.acquireOrReclaim(fs, lock, next),
      "dead-pid orphan must be reclaimed without a manual break")
    assert(FsLock.holderInfo(fs, lock).contains(next))
    FsLock.release(fs, lock)
    // a foreign-host orphan is NOT provably dead from here: refuse
    assert(FsLock.tryAcquire(fs, lock, stampWith(deadPid, "other-node")))
    assert(!FsLock.acquireOrReclaim(fs, lock, FsLock.holderStamp("x")))
    FsLock.release(fs, lock)
  }

  test("releaseOwned deletes only this holder's lock; a fenced-out " +
      "holder's finally leaves the usurper's lock intact") {
    val lock = tmpLock()
    val mine = FsLock.holderStamp("rel")
    assert(FsLock.tryAcquire(fs, lock, mine))
    // normal path: owned → released
    FsLock.releaseOwned(fs, lock, mine)
    assert(!fs.exists(lock))
    // usurped path: someone else's stamp on disk → leave it
    val theirs = FsLock.holderStamp("usurper")
    assert(FsLock.tryAcquire(fs, lock, theirs))
    FsLock.releaseOwned(fs, lock, mine)
    assert(fs.exists(lock) && FsLock.holderInfo(fs, lock).contains(theirs),
      "releaseOwned must not delete a lock it does not own")
    FsLock.release(fs, lock)
    // vanished path: no-op
    FsLock.releaseOwned(fs, lock, mine)
  }

  test("Fence.verify passes while owned and throws once the lock was " +
      "broken — with or without a new holder — naming the usurper") {
    val lock = tmpLock()
    val mine = FsLock.holderStamp("fenced")
    assert(FsLock.tryAcquire(fs, lock, mine))
    val fence = FsLock.fence(fs, lock, mine, "FsLockSpec.op")
    fence.verify() // owned: no throw
    // wrong break while alive + immediate re-acquire (the two-writers
    // hazard): the original holder is fenced out before it can write
    FsLock.release(fs, lock)
    val usurper = FsLock.holderStamp("usurper")
    assert(FsLock.tryAcquire(fs, lock, usurper))
    val e = intercept[IllegalStateException] { fence.verify() }
    assert(e.getMessage.contains("fenced out") &&
      e.getMessage.contains("op=usurper"), e.getMessage)
    // bare break, no re-acquire: still fenced out
    FsLock.release(fs, lock)
    val e2 = intercept[IllegalStateException] { fence.verify() }
    assert(e2.getMessage.contains("not re-acquired"), e2.getMessage)
  }

  test("heartbeat lease: a silent-past-its-ADVERTISED-TTL lock is " +
      "reclaimable from ANY host, a heartbeating / fresh / " +
      "longer-advertising / lease-less one is not, and the heartbeat " +
      "never refreshes a lock the holder no longer owns") {
    val lock = tmpLock()
    // leaseExpired semantics: fresh -> live, backdated -> expired,
    // vanished -> conservative not-expired
    val foreign = LockTestSupport.plantedStamp("test", deadPid,
      host = "some-other-node", leaseTtlMs = Some(60000L))
    assert(FsLock.tryAcquire(fs, lock, foreign))
    assert(!FsLock.leaseExpired(fs, lock, ttlMs = 60000L))
    fs.setTimes(lock, System.currentTimeMillis() - 120000L, -1L)
    assert(FsLock.leaseExpired(fs, lock, ttlMs = 60000L))
    FsLock.release(fs, lock)
    assert(!FsLock.leaseExpired(fs, lock, ttlMs = 60000L), "vanished lock")
    // cross-host orphan (pid unprobeable from here) + silent heartbeat
    // -> acquireOrReclaim recovers unaided once the TTL the HOLDER
    // advertised has passed (the reclaimer's own config is irrelevant)
    assert(FsLock.tryAcquire(fs, lock, foreign))
    fs.setTimes(lock, System.currentTimeMillis() - 120000L, -1L)
    val mine = FsLock.holderStamp("recovered")
    assert(FsLock.acquireOrReclaim(fs, lock, mine),
      "expired cross-host lease must be reclaimable")
    assert(FsLock.holderInfo(fs, lock).contains(mine))
    FsLock.release(fs, lock)
    // fresh cross-host lock (heartbeat alive): conservative refusal
    assert(FsLock.tryAcquire(fs, lock, foreign))
    assert(!FsLock.acquireOrReclaim(fs, lock, FsLock.holderStamp("x")))
    FsLock.release(fs, lock)
    // a holder that advertised a LONGER lease than this reclaimer's
    // config keeps its lock until ITS ttl passes — a mixed-config
    // fleet must honor the promise the holder actually made
    val longLease = LockTestSupport.plantedStamp("test", deadPid,
      host = "some-other-node", leaseTtlMs = Some(600000L))
    assert(FsLock.tryAcquire(fs, lock, longLease))
    fs.setTimes(lock, System.currentTimeMillis() - 120000L, -1L)
    assert(!FsLock.acquireOrReclaim(fs, lock, FsLock.holderStamp("x")),
      "a 10-min advertisement silent for 2 min is not expired")
    FsLock.release(fs, lock)
    // a stamp with NO lease field (an older binary) never promised
    // to heartbeat or fence — a static mtime proves nothing, so TTL
    // reclaim must refuse no matter how stale
    // (the rolling-upgrade two-unfenced-writers hazard, r14 ADVICE)
    val legacy = LockTestSupport.plantedStamp("test", deadPid,
      host = "some-other-node", leaseTtlMs = None)
    assert(FsLock.tryAcquire(fs, lock, legacy))
    fs.setTimes(lock, System.currentTimeMillis() - 7200000L, -1L)
    assert(!FsLock.acquireOrReclaim(fs, lock, FsLock.holderStamp("x")),
      "a lease-less stamp must never be lease-reclaimed")
    assert(FsLock.holderInfo(fs, lock).contains(legacy))
    FsLock.release(fs, lock)
    // withHeartbeat keeps a held lock's lease live through a body
    // longer than the TTL; the thread dies with the body. TTL:beat is
    // 4:1 (ttl/4 bound), so the arm tolerates a ~2-beat scheduler
    // stall on a loaded box without a false reclaim
    System.setProperty("graft.lock.lease.ttl.ms", "3000")
    try {
      val mine = FsLock.holderStamp("beating")
      assert(FsLock.tryAcquire(fs, lock, mine))
      FsLock.withHeartbeat(fs, lock, mine) {
        Thread.sleep(4000) // well past the TTL: only beats keep it live
        assert(!FsLock.acquireOrReclaim(fs, lock,
          FsLock.holderStamp("thief")),
          "a heartbeating holder must not be lease-reclaimed")
        assert(FsLock.holderInfo(fs, lock).contains(mine))
      }
      FsLock.release(fs, lock)
    } finally System.clearProperty("graft.lock.lease.ttl.ms")
    // a fenced-out holder's heartbeat must not mask the NEW holder's
    // liveness: stamp mismatch -> mtime untouched
    val usurper = FsLock.holderStamp("usurper")
    assert(FsLock.tryAcquire(fs, lock, usurper))
    val backdate = System.currentTimeMillis() - 120000L
    fs.setTimes(lock, backdate, -1L)
    FsLock.heartbeat(fs, lock, "not-my-stamp")
    assert(fs.getFileStatus(lock).getModificationTime == backdate,
      "heartbeat refreshed a lock it does not own")
    FsLock.heartbeat(fs, lock, usurper)
    assert(fs.getFileStatus(lock).getModificationTime > backdate,
      "the owner's heartbeat must refresh")
    FsLock.release(fs, lock)
  }

  test("non-local FS: a stamp-write failure AFTER a successful exclusive " +
      "create deletes our own lock and rethrows — never reports it as " +
      "another writer's") {
    // a FilterFileSystem is neither LocalFileSystem nor
    // RawLocalFileSystem, so tryAcquire takes the HDFS branch while
    // operating on local disk; its create() hands back a stream whose
    // write() fails — the crashed-stamp shape under test
    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val failing = new FilterFileSystem(raw) {
      override def create(f: Path, overwrite: Boolean)
          : org.apache.hadoop.fs.FSDataOutputStream = {
        val real = super.create(f, overwrite)
        new org.apache.hadoop.fs.FSDataOutputStream(
          new java.io.OutputStream {
            override def write(b: Int): Unit =
              throw new java.io.IOException("disk full (injected)")
            override def close(): Unit = real.close()
          }, null)
      }
    }
    val lock = tmpLock()
    val e = intercept[java.io.IOException] {
      FsLock.tryAcquire(failing, lock, "stamp that will not land")
    }
    assert(e.getMessage.contains("injected"))
    assert(!fs.exists(lock),
      "our own failed-create lock must be deleted, not orphaned")
    // and the next acquirer is NOT blocked
    assert(FsLock.tryAcquire(fs, lock, FsLock.holderStamp("next")))
    FsLock.release(fs, lock)
    // contrast: create() itself failing with the file PRESENT is a
    // foreign holder — false, file untouched
    assert(FsLock.tryAcquire(fs, lock, FsLock.holderStamp("holder")))
    val refusing = new FilterFileSystem(raw) {
      override def create(f: Path, overwrite: Boolean)
          : org.apache.hadoop.fs.FSDataOutputStream =
        throw new java.io.IOException("already exists (server-side)")
    }
    assert(!FsLock.tryAcquire(refusing, lock, "second"))
    assert(fs.exists(lock), "the foreign lock must survive the refusal")
    FsLock.release(fs, lock)
  }
}
