package graft.ops

/** ONE home for the lock-crash fixtures the suites plant
  * (AnnIndexSpec, VersioningSpec, ReplaySpec, FsLockSpec): a pid that
  * provably belongs to no process, and a holder stamp built with the
  * SAME field set [[FsLock.holderStamp]] writes — hand-rolled copies
  * drifted every time the stamp format grew a field (token in r14,
  * then pidns/start), silently testing a stale shape.
  */
object LockTestSupport {

  /** A pid that provably belongs to no process on this host. */
  def deadPid: Long =
    Iterator.iterate(600000L)(_ + 1)
      .find(p => ProcessHandle.of(p).isEmpty).get

  def localHost: String = java.net.InetAddress.getLocalHost.getHostName

  /** A crash-orphan stamp as a real acquisition on THIS host (and, for
    * the default host, this pid namespace) would have written it —
    * the shape [[FsLock.holderProvablyDead]] agrees to probe. Pass a
    * foreign `host` to build the unprobeable cross-host shape. The
    * default carries the CURRENT lease advertisement (`lease=<ttl>`,
    * the r15 stamp field TTL reclaim is gated on, evaluated at call
    * time so spec-shrunken TTLs are what the stamp advertises); pass
    * `leaseTtlMs = None` to build the LEGACY shape an older binary
    * leaves — never lease-reclaimable.
    */
  def plantedStamp(op: String, pid: Long, host: String = localHost,
      leaseTtlMs: Option[Long] = Some(FsLock.leaseTtlMs)): String =
    s"op=$op pid=$pid host=$host " +
      FsLock.localPidNamespace.map(n => s"pidns=$n ").getOrElse("") +
      leaseTtlMs.map(t => s"lease=$t ").getOrElse("") +
      "token=planted acquired=2024-01-01T00:00:00Z"
}
