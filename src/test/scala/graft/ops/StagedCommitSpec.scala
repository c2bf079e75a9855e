package graft.ops

import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}

import graft.SparkSpecBase

/** The stage → fence → rename commit primitive itself (the two
  * protocol-level compositions live in AnnIndexSpec / VersioningSpec):
  * r15's tombstone swap — the old target is renamed ASIDE, not
  * deleted, so a failed commit restores it and the target is
  * old-or-new, never silently absent.
  */
class StagedCommitSpec extends SparkSpecBase {

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** A one-marker-file tree at `path`, the marker naming its content. */
  private def mkTree(path: String, marker: String): Unit = {
    fs.mkdirs(new Path(path))
    fs.create(new Path(s"$path/$marker"), true).close()
  }

  private def ownedFence(base: String): FsLock.Fence = {
    val lock = new Path(s"$base/_lock")
    val stamp = FsLock.holderStamp("staged-commit-spec")
    assert(FsLock.tryAcquire(fs, lock, stamp))
    FsLock.fence(fs, lock, stamp, "StagedCommitSpec")
  }

  test("commitStaged swaps old for new through a tombstone rename: " +
      "success installs the stage, removes the old tree AND its tomb; " +
      "a first commit (no old target) just renames the stage in") {
    val base = tempDir("graft_staged")
    val fence = ownedFence(base)
    // first commit: no old target
    mkTree(s"$base/.stage_t_aaaa", "NEW1")
    StagedCommit.commitStaged(fs, fence, s"$base/.stage_t_aaaa",
      s"$base/target")
    assert(fs.exists(new Path(s"$base/target/NEW1")))
    // replace commit: old renamed aside, new swapped in, tomb cleaned
    mkTree(s"$base/.stage_t_bbbb", "NEW2")
    StagedCommit.commitStaged(fs, fence, s"$base/.stage_t_bbbb",
      s"$base/target")
    assert(fs.exists(new Path(s"$base/target/NEW2")))
    assert(!fs.exists(new Path(s"$base/target/NEW1")),
      "the old tree must be fully replaced, not merged")
    assert(fs.listStatus(new Path(base))
      .forall(!_.getPath.getName.endsWith(".tomb")),
      "a successful commit must not leave its tombstone behind")
  }

  test("a failed stage->target rename RESTORES the old tree from the " +
      "tombstone: the target is old-or-new, never absent (r14 ADVICE " +
      "on the delete-then-rename gap)") {
    val base = tempDir("graft_staged2")
    val fence = ownedFence(base)
    mkTree(s"$base/target", "OLD")
    mkTree(s"$base/.stage_t_cccc", "NEW")
    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    // an FS whose rename fails exactly for the stage -> target swap
    // (the old tree's rename-aside and the restore both succeed)
    val failing = new FilterFileSystem(raw) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName == ".stage_t_cccc") false
        else super.rename(src, dst)
    }
    val e = intercept[IllegalStateException] {
      StagedCommit.commitStaged(failing, fence, s"$base/.stage_t_cccc",
        s"$base/target")
    }
    assert(e.getMessage.contains("rename"), e.getMessage)
    assert(fs.exists(new Path(s"$base/target/OLD")),
      "a failed commit must put the old tree back")
    assert(!fs.exists(new Path(s"$base/.stage_t_cccc.tomb")),
      "the restore consumes the tombstone")
    assert(fs.exists(new Path(s"$base/.stage_t_cccc/NEW")),
      "the stage survives for the replay to recommit")
  }

  test("when the RESTORE rename also fails, the thrown error carries a " +
      "suppressed note naming the tomb (r15 ADVICE: the old tree is " +
      "stranded and the target absent — the error must say so, not " +
      "imply the old tree was put back)") {
    val base = tempDir("graft_staged4")
    val fence = ownedFence(base)
    mkTree(s"$base/target", "OLD")
    mkTree(s"$base/.stage_t_eeee", "NEW")
    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    // rename-aside succeeds; the swap fails; the restore fails too
    val failing = new FilterFileSystem(raw) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName == ".stage_t_eeee" ||
          src.getName == ".stage_t_eeee.tomb") false
        else super.rename(src, dst)
    }
    val e = intercept[IllegalStateException] {
      StagedCommit.commitStaged(failing, fence, s"$base/.stage_t_eeee",
        s"$base/target")
    }
    val sup = e.getSuppressed
    assert(sup.length == 1 && sup.head.getMessage.contains("RESTORE") &&
      sup.head.getMessage.contains(".stage_t_eeee.tomb"),
      s"expected a suppressed stranded-tomb note, got: " +
        s"${sup.map(_.getMessage).mkString("; ")}")
    assert(!fs.exists(new Path(s"$base/target")),
      "this arm's contract IS the bad state: target absent...")
    assert(fs.exists(new Path(s"$base/.stage_t_eeee.tomb/OLD")),
      "...with the old tree stranded in the tomb the note points at")
  }

  test("a fence broken before the commit aborts with the target " +
      "untouched; purgeStages under a broken fence throws before " +
      "deleting anything") {
    val base = tempDir("graft_staged3")
    val lock = new Path(s"$base/_lock")
    val stamp = FsLock.holderStamp("staged-commit-spec")
    assert(FsLock.tryAcquire(fs, lock, stamp))
    val fence = FsLock.fence(fs, lock, stamp, "StagedCommitSpec")
    mkTree(s"$base/target", "OLD")
    mkTree(s"$base/.stage_t_dddd", "NEW")
    FsLock.release(fs, lock)
    assert(FsLock.tryAcquire(fs, lock, FsLock.holderStamp("usurper")))
    intercept[IllegalStateException] {
      StagedCommit.commitStaged(fs, fence, s"$base/.stage_t_dddd",
        s"$base/target")
    }
    assert(fs.exists(new Path(s"$base/target/OLD")) &&
      fs.exists(new Path(s"$base/.stage_t_dddd/NEW")),
      "a fenced-out commit must touch nothing")
    intercept[IllegalStateException] {
      StagedCommit.purgeStages(fs, base, ".stage_t_", fence)
    }
    assert(fs.exists(new Path(s"$base/.stage_t_dddd/NEW")),
      "a fenced-out purge must delete nothing")
  }
}
